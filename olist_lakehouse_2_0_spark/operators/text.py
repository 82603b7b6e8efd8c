"""Text-analysis operators for training-data pipelines.

Beyond-reference surface (BASELINE.json north star): language-ID
heuristics, quality scoring, token counting, and document
fingerprinting over a ``documents(doc_id, text, lang, source,
n_chars)`` table.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM,
whole-stage codegen). Nothing here shuffles except the explicit
aggregations; per-document derivations are embarrassingly parallel and
scale linearly to 100 TB of text.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from olist_lakehouse_2_0_spark.fixedpoint import quantize

#: Tiny per-language stopword marker sets for the n-gram/stopword
#: language heuristic. Deliberately small: the heuristic's job is cheap
#: bulk routing, not NLP-grade detection (fasttext-style models plug in
#: behind the same column contract via a pandas UDF).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "les", "et", "est"),
    "de": ("der", "die", "das", "und", "ist"),
    "pt": ("o", "a", "de", "que", "e"),
}

EN_STOPWORDS = ("the", "a", "an", "of", "and", "or", "is", "are", "to", "in")


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (empty string -> empty array)."""
    c = F.col(text) if isinstance(text, str) else text
    trimmed = F.trim(c)
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


#: ASCII-only whitespace, matching Java regex ``\s`` ([ \t\n\x0B\f\r])
#: and DuckDB's RE2 ``\s`` — NOT Python's Unicode-aware default.
_WS_ASCII = re.compile(r"\s+", flags=re.ASCII)


def jvm_tokens(text: str | None) -> list[str]:
    """Exact Python mirror of :func:`tokens` (and of the DuckDB oracle
    idiom ``regexp_split_to_array(TRIM(text), '\\s+')`` guarded by
    ``LENGTH(TRIM(text)) > 0``), for Python paths (mapInPandas sketch
    passes, UDTFs) that must agree token-for-token with the JVM plan.

    Empirically pinned against BOTH engines (Spark 4.1.2 + DuckDB) on
    tab/newline/U+00A0 edges — all three agree:

    - trim strips ASCII space 0x20 ONLY (``'\\tfoo'`` stays);
    - ``\\s`` is ASCII-only (U+00A0 is not a separator);
    - split keeps BOTH leading and trailing empty tokens
      (``'\\tfoo'`` -> ``['', 'foo']``, ``'foo\\n'`` -> ``['foo','']``,
      Java ``split(..., -1)`` == RE2 split semantics);
    - empty-after-trim -> ``[]``.

    Python's ``str.split()``/``str.strip()`` are Unicode-aware and
    violate all four — using them here silently breaks the
    Misra-Gries superset guarantee and the UDTF/oracle hash contract
    on corpora with non-space leading whitespace (round-5 advice)."""
    if not text:
        return []
    t = text.strip(" ")
    if not t:
        return []
    return _WS_ASCII.split(t)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """BPE-approximating token count: word-piece splits on letter/digit/
    punctuation boundaries (regexp-based; ~GPT-2 pre-tokenizer shape)."""
    c = F.col(text) if isinstance(text, str) else text
    pieces = F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
    return F.size(pieces)


def stopword_ratio(text: Column | str, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(*stopwords)))
    return hits / F.nullif(F.size(toks), F.lit(0))


def punct_ratio(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return n_punct / F.nullif(F.length(c), F.lit(0))


def mean_token_length(text: Column | str) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return total / F.nullif(F.size(toks).cast("double"), F.lit(0.0))


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence
    + punctuation sanity (the reference's rule-based derivation style,
    e.g. sentiment silver/order_reviews.sql:41-45, generalized to
    document quality)."""
    n_tok = token_count(text)
    sw = F.coalesce(stopword_ratio(text), F.lit(0.0))
    pr = F.coalesce(punct_ratio(text), F.lit(0.0))
    length_component = (
        F.when(n_tok >= 20, 0.4)
        .when(n_tok >= 5, 0.2)
        .otherwise(0.0)
    )
    stopword_component = F.when((sw >= 0.05) & (sw <= 0.6), 0.3).otherwise(0.0)
    punct_component = F.when(pr <= 0.2, 0.3).otherwise(0.0)
    return length_component + stopword_component + punct_component


def lang_guess(text: Column | str) -> Column:
    """Marker-stopword language vote: the language with the most marker
    hits wins (ties resolve deterministically to the lexicographically
    last language — struct max ordering); no hits -> 'und'."""
    toks = F.transform(tokens(text), lambda t: F.lower(t))
    entries = []
    for lang, markers in LANG_MARKERS.items():
        hits = F.size(F.filter(toks, lambda t: t.isin(*markers)))
        entries.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*entries))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


#: Output schema of :func:`fused_text_stats`.
FUSED_STATS_SCHEMA = (
    "struct<n_tokens:int, stopword_ratio:double, mean_token_len:double, "
    "quality_score:double, lang_guess:string>"
)


def fused_text_stats(text: Column | str) -> Column:
    """All per-document token statistics in ONE pass over the token
    list, as an Arrow-batched pandas UDF.

    Semantically identical to composing :func:`token_count`,
    :func:`stopword_ratio`, :func:`mean_token_length`,
    :func:`quality_score` and :func:`lang_guess` (the DuckDB oracle
    hash-checks this), but those column expressions each re-tokenize
    the document and evaluate interpreted HOF lambdas per token —
    ~12 tokenizer passes per row. The fused path tokenizes once per
    document in vectorized Python; on the heavy text-profiling queries
    this measured several times faster. Tokenization quirks are
    reproduced exactly: space-only TRIM, ``\\s+`` split with a leading
    empty token when the trimmed text starts with non-space whitespace,
    and NULL-text outputs matching the composable operators.

    Scope caveat: Python's ``\\w``/``\\s`` are Unicode classes while the
    JVM originals are ASCII — identical on ASCII corpora (the testdata
    is verified ASCII); for Unicode text the punctuation ratio can
    differ between the two paths.
    """
    import re as _re

    from pyspark.sql.functions import pandas_udf

    stop = set(EN_STOPWORDS)
    markers = {lang: set(ms) for lang, ms in LANG_MARKERS.items()}
    split_re = _re.compile(r"\s+")
    punct_re = _re.compile(r"[^\w\s]")

    @pandas_udf(FUSED_STATS_SCHEMA)
    def stats_of(texts: pd.Series) -> pd.DataFrame:
        out = {
            "n_tokens": [],
            "stopword_ratio": [],
            "mean_token_len": [],
            "quality_score": [],
            "lang_guess": [],
        }
        for s in texts:
            if s is None:
                # Match the composable operators on NULL text exactly:
                # token stats are NULL, quality_score is 0.3 (only the
                # punct component passes via its coalesce), lang 'und'.
                out["n_tokens"].append(None)
                out["stopword_ratio"].append(None)
                out["mean_token_len"].append(None)
                out["quality_score"].append(0.3)
                out["lang_guess"].append("und")
                continue
            trimmed = s.strip(" ")
            toks = split_re.split(trimmed) if trimmed else []
            n = len(toks)
            lower = [t.lower() for t in toks]
            sw_hits = sum(1 for t in lower if t in stop)
            sw_ratio = sw_hits / n if n else None
            mean_len = sum(len(t) for t in toks) / n if n else None
            n_chars = len(s)
            n_punct = len(punct_re.findall(s))
            pr = n_punct / n_chars if n_chars else None
            length_c = 0.4 if n >= 20 else (0.2 if n >= 5 else 0.0)
            sw_c = 0.3 if (sw_ratio or 0.0) >= 0.05 and (sw_ratio or 0.0) <= 0.6 else 0.0
            pr_c = 0.3 if (pr or 0.0) <= 0.2 else 0.0
            votes = {
                lang: sum(1 for t in lower if t in ms)
                for lang, ms in markers.items()
            }
            best_hits, best_lang = max(
                (h, lang) for lang, h in votes.items()
            )
            out["n_tokens"].append(n)
            out["stopword_ratio"].append(sw_ratio)
            out["mean_token_len"].append(mean_len)
            out["quality_score"].append(length_c + sw_c + pr_c)
            out["lang_guess"].append(best_lang if best_hits > 0 else "und")
        return pd.DataFrame(out)

    c = F.col(text) if isinstance(text, str) else text
    return stats_of(c)


#: PII classes: (name, Java/RE2-compatible regex, replacement token).
#: Applied in order — email first so its digit runs can't be re-matched
#: by the ip/phone patterns. All three patterns parse identically under
#: Java regex (Spark) and RE2 (DuckDB oracle): no backrefs, no lookarounds.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "[PHONE]"),
)


def pii_counts(text: Column | str) -> Column:
    """Per-class PII occurrence counts BEFORE redaction, as a struct
    ``(n_email, n_ip, n_phone)``. JVM-side ``regexp_count`` — one pass
    per class, no Python boundary."""
    c = F.col(text) if isinstance(text, str) else text
    return F.struct(
        *[
            F.regexp_count(c, F.lit(pat)).alias(f"n_{name}")
            for name, pat, _ in PII_PATTERNS
        ]
    )


def redact_pii(text: Column | str) -> Column:
    """Replace every PII match with its class token (``[EMAIL]`` etc.).

    The scrub step of a training-data pipeline: deterministic, pure
    column expressions, order-stable under any partitioning. Patterns
    are applied in :data:`PII_PATTERNS` order."""
    c = F.col(text) if isinstance(text, str) else text
    for _, pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def word_ngrams(text: Column | str, n: int = 2) -> Column:
    """All word-level n-grams of ``text`` in order (NOT deduplicated —
    use :func:`~..dedup.token_shingles` for the distinct-set variant).
    Same shifted-slice construction: each argument of ``arrays_zip``
    evaluates once per row, the lambda touches only its struct element."""
    toks = tokens(text)
    m = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(toks, F.lit(i + 1), m) for i in range(n)])
    return F.transform(z, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)]))


def dup_ngram_frac(text: Column | str, n: int = 2) -> Column:
    """Fraction of repeated word n-grams: 1 - distinct/total (0.0 for
    docs shorter than n words). The Gopher-style repetition signal —
    high values mark boilerplate/spam documents."""
    grams = word_ngrams(text, n)
    total = F.size(grams)
    return F.when(total <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(grams)) / total.cast("double")
    )


def contaminated_docs(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing at least one word
    n-gram with any benchmark document, with the number of distinct
    shared n-grams. Returns ``(id_col, n_hits)``.

    Scale design: the benchmark side (an eval set — thousands of docs
    even when the corpus is 100 TB) collapses to a distinct set of
    64-bit gram hashes and is broadcast, so the corpus side is a single
    map-side semi-join pass — no shuffle of corpus grams. The per-doc
    ``n_hits`` aggregation shuffles only (id, gram_hash) pairs that
    actually hit, which contamination makes rare by construction."""
    bench_grams = (
        benchmark.select(
            F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias("__g")
        )
        .select(F.xxhash64("__g").alias("__gh"))
        .distinct()
    )
    corpus_grams = corpus.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias("__g"),
    ).select(id_col, F.xxhash64("__g").alias("__gh"))
    return (
        corpus_grams.join(F.broadcast(bench_grams), "__gh")
        .groupBy(id_col)
        .agg(F.count_distinct("__gh").alias("n_hits"))
    )


def fingerprint(text: Column | str) -> Column:
    """64-bit document fingerprint: xxhash64 of whitespace-normalized,
    lowercased text — the exact-dedup key."""
    c = F.col(text) if isinstance(text, str) else text
    normalized = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.xxhash64(normalized)


def token_chunks(
    text: Column | str, window: int = 50, stride: int = 40
) -> Column:
    """Overlapping token-window chunks for context-length-bounded
    training: an array of token arrays, one slice per stride offset
    (``window - stride`` tokens of overlap between consecutive chunks).

    Pure JVM array expressions (sequence → transform → slice): chunking
    100 TB of text is a narrow per-row map with zero shuffle; the
    downstream ``posexplode`` multiplies rows ~len/stride-fold without
    ever leaving the executor. Callers should filter empty documents
    first (an empty token array still yields one empty chunk)."""
    toks = tokens(text)
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(toks) - 1, F.lit(0)),
        F.lit(stride),
    )
    return F.transform(starts, lambda s: F.slice(toks, s + 1, window))


def segment_dedup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_tokens: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-wide segment-level deduplication statistics — the
    CCNet / RefinedWeb "remove lines shared across documents" pass,
    generalized to fixed-size token segments (web "lines" are newline
    splits; single-line corpora need a token-window segmenter).

    Each document is cut into non-overlapping ``seg_tokens``-token
    segments; a segment is *shared* when it appears in at least
    ``min_docs`` distinct documents anywhere in the corpus. Returns one
    row per document::

        (id_col, n_segments, n_shared_segments, n_tokens,
         n_kept_tokens, shared_frac)

    where ``n_kept_tokens`` counts tokens surviving removal of shared
    segments — the size of the corpus after line-level dedup.

    Scale design (100 TB): segmentation is a narrow per-row map
    (sequence/slice, no explode until the aggregation input); the
    global segment-frequency table groups on a **64-bit xxhash64 of the
    segment text**, never shuffling segment strings — one shuffle with
    map-side partial ``count_distinct`` reduction. The join back to
    per-document segments hashes on the same key (the segmentation map
    runs twice — recomputing a narrow projection beats caching a
    corpus-sized intermediate at scale; persist the seg frame only if
    the tokenizer dominates). Documents hashing to the same 64-bit key
    collide with
    probability ~2^-64 per pair; for exact-byte guarantees swap the key
    for ``sha2(seg, 256)`` as in
    :func:`~olist_lakehouse_2_0_spark.operators.multimodal.dedup_payloads`.
    """
    segs = (
        df.select(
            F.col(id_col),
            F.explode(token_chunks(text_col, seg_tokens, seg_tokens)).alias(
                "__toks"
            ),
        )
        .filter(F.size("__toks") > 0)
        .select(
            id_col,
            F.size("__toks").alias("__n"),
            F.xxhash64(F.array_join("__toks", " ")).alias("__h"),
        )
    )
    counts = segs.groupBy("__h").agg(
        F.count_distinct(id_col).alias("__docs")
    )
    shared = F.col("__docs") >= min_docs
    return (
        segs.join(counts, "__h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.count(F.when(shared, 1)).alias("n_shared_segments"),
            F.sum("__n").cast("long").alias("n_tokens"),
            F.sum(F.when(~shared, F.col("__n")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_kept_tokens"),
        )
        .withColumn(
            "shared_frac",
            F.col("n_shared_segments").cast("double") / F.col("n_segments"),
        )
    )


def dedup_segments_within_doc(
    text: Column | str, seg_tokens: int = 2
) -> Column:
    """WITHIN-document repetition removal — the intra-doc half of the
    CCNet / RefinedWeb repetition discipline (the cross-doc half is
    :func:`segment_dedup_stats`): cut the document into non-overlapping
    ``seg_tokens``-token segments and keep only the FIRST occurrence of
    each distinct segment, reassembling the cleaned text in original
    order. Boilerplate paragraphs repeated inside one page, templated
    headers/footers, and stutter loops from scraped markup all collapse
    to their first occurrence.

    Scale design (100 TB): a pure per-row JVM map — tokenize, slice
    into segments (``sequence``/``transform``/``slice``), dedup with
    ``array_distinct`` (which preserves first-occurrence order), and
    rejoin. ZERO shuffle, no explode, no Python; whole-stage codegen
    end to end, so it composes into any ingest projection for free.
    """
    toks = tokens(text)
    n_segs = F.ceil(F.size(toks) / F.lit(seg_tokens)).cast("int")
    segs = F.when(F.size(toks) == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_segs - 1),
            lambda i: F.array_join(
                F.slice(toks, i * seg_tokens + 1, seg_tokens), " "
            ),
        )
    )
    return F.array_join(F.array_distinct(segs), " ")


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    out_col: str = "clean_text",
) -> DataFrame:
    """CROSS-document duplicate-SPAN removal — the exact-substring
    dedup of Lee et al. '22 ("Deduplicating Training Data Makes
    Language Models Better"), the span-level discipline doc-level
    dedup can't express: a boilerplate paragraph shared by thousands
    of otherwise-distinct pages survives doc-level MinHash forever,
    but every occurrence after the FIRST is cut here while the rest of
    each document is kept.

    Semantics: tokenize on whitespace; every ``k``-token window whose
    exact token sequence occurs anywhere else in the corpus (or
    earlier in the same document) — i.e. every occurrence except the
    globally first in ``(id, position)`` order — marks its ``k`` token
    positions for removal. Overlapping duplicated windows merge
    naturally (a shared run of ``m >= k`` tokens is ``m-k+1`` flagged
    windows covering exactly those ``m`` tokens), so maximal
    duplicated spans are removed without ever materializing them. The
    first occurrence of every span is kept verbatim; documents shorter
    than ``k`` tokens are untouched.

    Returns ``(id_col, orig_tokens int, removed_tokens int, out_col
    string)`` — one row per input document, cleaned text reassembled
    in original token order (empty string when everything was cut).

    Scale design (100 TB): occurrences are ``(id, pos, xxhash64 of the
    k-gram)`` rows — one narrow posexplode, ~tokens-per-doc rows per
    doc. First-occurrence detection is a ``groupBy(hash)`` computing
    ``min(struct(id, pos))`` + ``count`` — map-side partial combine
    absorbs hot shingles (a boilerplate k-gram with 10^9 occurrences
    contributes one partial row per task, not a single-reducer
    straggler) — joined back on the hash, where AQE's skew-join split
    handles the re-expansion side. Deliberately a groupBy+join rather
    than a ``row_number`` window: a window over the hash cannot be
    skew-split, the join can. Per-doc reassembly is one
    ``groupBy(id)`` of flagged starts (bounded by doc length) and a
    JVM higher-order ``filter`` over token indices — no Python
    anywhere. Total: 3 shuffles (hash agg+join share one exchange
    pair, flagged-starts agg, join back to docs), each on a key with
    per-group cardinality bounded by doc length or absorbed by
    partial aggregation. No pair enumeration exists in this plan at
    all — corpus-degenerate regions (N identical docs) cost N·tokens
    rows, never N².
    """
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("__t"))
    grams = F.when(
        F.size("__t") < k, F.array().cast("array<bigint>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size("__t") - k),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice("__t", i + 1, k))),
        )
    )
    occ = base.select(
        F.col(id_col), F.posexplode(grams).alias("__pos", "__h")
    )
    firsts = occ.groupBy("__h").agg(
        F.min(F.struct(F.col(id_col), F.col("__pos"))).alias("__first"),
        F.count(F.lit(1)).alias("__cnt"),
    )
    flagged = (
        occ.join(firsts, "__h")
        .filter(
            (F.col("__cnt") >= 2)
            & ~(
                (F.col(id_col) == F.col("__first")[id_col])
                & (F.col("__pos") == F.col("__first.__pos"))
            )
        )
        .select(id_col, "__pos")
    )
    starts = flagged.groupBy(id_col).agg(
        F.collect_list("__pos").alias("__starts")
    )
    return (
        base.join(starts, id_col, "left")
        .select(
            F.col(id_col),
            F.col("__t"),
            F.coalesce("__starts", F.array().cast("array<int>")).alias("__s"),
        )
        .select(
            F.col(id_col),
            F.size("__t").alias("orig_tokens"),
            F.filter(
                "__t",
                lambda _tok, i: ~F.exists(
                    "__s", lambda p: (p <= i) & (i < p + F.lit(k))
                ),
            ).alias("__kept"),
        )
        .select(
            F.col(id_col),
            F.col("orig_tokens"),
            (F.col("orig_tokens") - F.size("__kept"))
            .cast("int")
            .alias("removed_tokens"),
            F.array_join("__kept", " ").alias(out_col),
        )
    )


def word_window_udtf():
    """Python UDTF (table function) seam — the one Python modality the
    engine's UDF matrix otherwise lacks (Column exprs, SQL UDFs,
    pandas UDFs, mapInPandas, applyInPandasWithState are all covered
    elsewhere): ONE input row expanding to N output rows from
    imperative Python. Registered via ``spark.udtf.register`` and
    invoked with SQL ``LATERAL``; ``useArrow=True`` batches the
    column transfer.

    The demo logic — non-overlapping ``size``-token windows with an
    id, text, and token count — is deliberately SQL-mirrorable so the
    driver can hash-gate the plumbing (``doc_chunks_udtf``). When the
    per-row expansion IS expressible as JVM ``sequence``/``slice``/
    ``posexplode`` (as this one is), prefer that path
    (:func:`token_chunks` — whole-stage codegen, no Python): the UDTF
    seam is for expansions that genuinely need Python per row — real
    sentence segmenters, grammar parsers, model-generated multi-row
    outputs — where ``eval`` runs once per input row (Arrow batches
    the transport, not the loop). Returns the decorated class, ready
    for ``spark.udtf.register``."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="chunk_id int, chunk string, n_tokens int",
        useArrow=True,
    )
    class WordWindows:
        def eval(self, text: str, size: int):
            # jvm_tokens, not str.split(): the UDTF twins the JVM
            # token_chunks path and the ASCII-regex oracle, so its
            # tokenization must match tokens() on tab/newline/U+00A0
            # edges (round-5 advice).
            toks = jvm_tokens(text)
            for i in range(0, len(toks), size):
                win = toks[i : i + size]
                yield i // size, " ".join(win), len(win)

    return WordWindows


#: Fixed demonstration weights for :func:`model_quality_score` — a
#: stand-in for a trained quality classifier's parameters (fasttext /
#: logistic-regression style). Order: (distinct_ratio, stopword_frac,
#: mean_token_len, log1p_n_tokens), then bias.
QUALITY_MODEL_WEIGHTS = (2.0, -1.0, -0.25, 0.5)
QUALITY_MODEL_BIAS = -1.0


def model_quality_score(
    distinct_ratio: Column,
    stopword_frac: Column,
    mean_token_len: Column,
    log1p_n_tokens: Column,
    weights: tuple[float, float, float, float] | None = None,
    bias: float | None = None,
) -> Column:
    """Vectorized MODEL INFERENCE over feature columns: a fixed-weight
    logistic regression scored in an Arrow-batched pandas UDF,
    returning the sigmoid quantized to integer 1e-6 units (the repo's
    order-independence discipline). This is the batch-classifier seam
    of a training-data pipeline (quality/toxicity/language models run
    over the whole corpus) made concrete: features are computed
    JVM-side as exact ratios, inference crosses to Python ONCE per
    Arrow batch (zero per-row overhead), and the output is an exact
    integer the rest of the plan can aggregate deterministically.

    A real model swaps the weight constants for loaded parameters (or
    the numpy expression for an ONNX/sklearn ``predict_proba`` call) —
    the Spark-side plumbing (columnar batches in, quantized scores
    out, no shuffle) is identical. The sigmoid's ``exp`` is evaluated
    by numpy's libm vs the oracle's (DuckDB) libm: a 1-ulp input
    difference can flip the 1e-6 quantization with probability ~1e-9
    per doc — the same measure-zero cross-libm risk the quantized
    ``log`` scores accept (queries/__init__.py docstring).
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    w0, w1, w2, w3 = weights if weights is not None else QUALITY_MODEL_WEIGHTS
    b = bias if bias is not None else QUALITY_MODEL_BIAS

    @pandas_udf("long")
    def score(
        dr: pd.Series, sf: pd.Series, mtl: pd.Series, lnt: pd.Series
    ) -> pd.Series:
        # Accumulation order matches the SQL oracle's left-to-right
        # addition exactly: (((b + w0*x0) + w1*x1) + w2*x2) + w3*x3.
        z = b + w0 * dr.to_numpy()
        z = z + w1 * sf.to_numpy()
        z = z + w2 * mtl.to_numpy()
        z = z + w3 * lnt.to_numpy()
        s = 1.0 / (1.0 + np.exp(-z))
        return pd.Series(np.floor(s * 1e6 + 0.5).astype("int64"))

    return score(distinct_ratio, stopword_frac, mean_token_len, log1p_n_tokens)


def train_quality_model(
    df: DataFrame,
    feature_cols: tuple[str, str, str, str],
    label_col: str,
    max_iter: int = 100,
) -> tuple[tuple[float, float, float, float], float]:
    """DISTRIBUTED training for the quality-classifier seam: fit a
    logistic regression over the JVM-computed feature columns with
    Spark MLlib (LBFGS — gradients aggregate tree-wise across
    executors, so training scales with the corpus exactly like an
    aggregation; no data leaves the cluster) and return
    ``(weights, bias)`` in the exact shape
    :func:`model_quality_score` accepts. This closes the classifier
    loop end to end: label a seed set → ``train_quality_model`` →
    plug the learned parameters into the Arrow-batched scoring UDF →
    score 100 TB. Unregularized by default so a separable teacher
    (tests) is recovered sharply; production callers set
    ``max_iter``/add regularization via the same MLlib estimator.

    Float caveat (why this is pytest-verified, not hash-oracled):
    LBFGS's gradient aggregation is float-order-dependent across
    partitionings, so learned weights are run-stable only to ~1e-6 —
    model QUALITY (accuracy on held-out labels) is the testable
    contract, bit-identical weights are not. The downstream scoring
    path stays deterministic either way (fixed weights in, integer
    1e-6-unit scores out)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    assembled = VectorAssembler(
        inputCols=list(feature_cols), outputCol="__features"
    ).transform(df)
    model = LogisticRegression(
        featuresCol="__features",
        labelCol=label_col,
        maxIter=max_iter,
        regParam=0.0,
        standardization=False,
    ).fit(assembled)
    w = model.coefficients.toArray()
    return (float(w[0]), float(w[1]), float(w[2]), float(w[3])), float(
        model.intercept
    )


def build_aho_corasick(needles: dict[int, str]):
    """Build an Aho-Corasick automaton (dict-trie + BFS failure links)
    over ``needles`` (id -> pattern). Pure stdlib; returns (goto,
    fail, output) where goto is a list of dict[char -> state], fail a
    list of ints, output a list of frozenset(needle ids ending here).
    """
    goto: list[dict[str, int]] = [{}]
    out: list[set[int]] = [set()]
    for nid, pat in needles.items():
        state = 0
        for ch in pat:
            nxt = goto[state].get(ch)
            if nxt is None:
                goto.append({})
                out.append(set())
                nxt = len(goto) - 1
                goto[state][ch] = nxt
            state = nxt
        out[state].add(nid)
    fail = [0] * len(goto)
    from collections import deque

    queue = deque(goto[0].values())
    while queue:
        state = queue.popleft()
        for ch, nxt in goto[state].items():
            queue.append(nxt)
            f = fail[state]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[nxt] = goto[f].get(ch, 0) if goto[f].get(ch, 0) != nxt else 0
            out[nxt] |= out[fail[nxt]]
    return goto, fail, [frozenset(s) for s in out]


def multi_pattern_hits(
    df: DataFrame,
    needles: dict[int, str],
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Single-pass multi-pattern substring matching — the scale path
    for exact-substring decontamination once the needle set outgrows
    the per-needle ``instr`` join (which is O(|text| x n_needles) per
    row): one Aho-Corasick automaton finds ALL needle occurrences in
    O(|text| + hits) per document regardless of needle count.

    Returns one row per (document, matched needle id) pair — identical
    to ``docs JOIN needles ON instr(text, needle) > 0``
    (tests/test_llm_ops.py pins the equality; the driver gate runs the
    AC-backed query against the same SQL oracle as the instr version).

    Scale design: ``needles`` is eval-benchmark-sized (KB–MB) and
    ships to executors inside the mapInPandas closure — the broadcast
    analogue; the scan is a map-only Arrow-batched pass with ZERO
    shuffle; the automaton builds once per executor task, amortized
    over the batch."""
    import pandas as pd  # noqa: F811 (module-level import shadows fine)

    schema = ", ".join(
        [f"{id_col} long"]
        + [f"{c} string" for c in extra_cols]
        + ["needle_id long"]
    )
    cols = [id_col, *extra_cols, text_col]
    src = df.select(*cols)

    def scan(batches):
        goto, fail, out = build_aho_corasick(needles)
        for pdf in batches:
            rows = {c: [] for c in (id_col, *extra_cols, "needle_id")}
            for tup in pdf.itertuples(index=False):
                text = tup[-1]
                if not text:
                    continue
                state = 0
                found: set[int] = set()
                for ch in text:
                    while state and ch not in goto[state]:
                        state = fail[state]
                    state = goto[state].get(ch, 0)
                    if out[state]:
                        found |= out[state]
                for nid in sorted(found):
                    rows[id_col].append(tup[0])
                    for i, c in enumerate(extra_cols):
                        rows[c].append(tup[1 + i])
                    rows["needle_id"].append(nid)
            yield pd.DataFrame(rows)

    return src.mapInPandas(scan, schema)


def heavy_hitter_tokens(
    df: DataFrame, text_col: str = "text", threshold_k: int = 64
) -> DataFrame:
    """EXACT heavy hitters — every token with frequency > n/``threshold_k``
    and its exact count — without ever shuffling the distinct-token
    space. The plain ``groupBy(token)`` shuffles one key per distinct
    token (at 100 TB of web text: ~10⁹ keys, almost all singletons that
    exist only to be discarded by the threshold); this two-pass shape
    shuffles at most ``partitions × k`` candidate rows.

    Pass 1 (candidates): each partition builds a Misra-Gries summary
    with k = ``threshold_k`` counters — the classic mergeable sketch
    (MG with k counters undercounts by at most m/(k+1) over a stream of
    length m, so any token with count > m/(k+1) survives). Batches
    merge by counter addition followed by the (k+1)-th-largest
    subtraction prune, which preserves the bound (Agarwal et al.,
    "Mergeable Summaries", PODS'12). Pigeonhole across partitions: a
    token with GLOBAL count > n/(k+1) must exceed n_p/(k+1) in at
    least one partition, so the union of partition summaries is a
    SUPERSET of every global heavy hitter at the (stricter) n/k
    threshold. Arrow-batched mapInPandas, zero shuffle, O(k) state.

    Pass 2 (verify): exact counts for candidates only — explode tokens,
    broadcast-semi-join the candidate set, one bounded groupBy — and
    the cross-multiplied integer filter ``count · k > n`` (no float
    division). Superset + exact counts + exact filter ⇒ the output IS
    the true heavy-hitter relation, which is why a plain SQL oracle
    can hash-gate an approximate-sketch pipeline
    (``heavy_hitter_tokens`` query). Returns (token, n_occurrences).
    """
    from collections import Counter

    import pandas as pd  # noqa: F811

    k = int(threshold_k)
    src = df.select(F.col(text_col).alias("__text"))

    def summarize(batches):
        counters: Counter = Counter()
        for pdf in batches:
            batch = Counter()
            for text in pdf["__text"]:
                # jvm_tokens mirrors the verify pass's tokens() exactly
                # (space-only trim, ASCII \s+, leading/trailing empty
                # tokens kept) — any tokenization drift here hides a
                # token from the candidate set and breaks the superset
                # guarantee the exactness proof rests on.
                batch.update(jvm_tokens(text))
            counters.update(batch)
            if len(counters) > k:
                kth = sorted(counters.values(), reverse=True)[k]
                counters = Counter(
                    {t: c - kth for t, c in counters.items() if c > kth}
                )
        yield pd.DataFrame({"token": list(counters.keys())})

    candidates = src.mapInPandas(summarize, "token string").distinct()
    exploded = df.select(F.explode(tokens(F.col(text_col))).alias("token"))
    total = df.agg(
        F.sum(F.size(tokens(F.col(text_col)))).cast("long").alias("__n")
    )
    return (
        exploded.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") * k > F.col("__n"))
        .select("token", "n_occurrences")
    )


def token_pair_counts(df: DataFrame, text_col: str, top_n: int = 20) -> DataFrame:
    """Global adjacent-token-pair frequencies, top ``top_n`` — one
    distributed iteration of the BPE merge-selection step (count every
    adjacent symbol pair across the corpus, pick the most frequent).

    Returns ``(pair, occurrences, rank)`` with deterministic
    tie-breaking (count desc, pair asc). Scale: pair construction is a
    per-row JVM array zip (no shuffle); the count is one hash aggregate
    with map-side combine over a vocabulary-bounded key space, and the
    global top-n is ``TakeOrderedAndProject`` over the (tiny)
    aggregated side — never a full sort of the corpus."""
    from pyspark.sql import Window as W

    counts = (
        df.select(F.explode(word_ngrams(text_col, 2)).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("occurrences"))
    )
    top = counts.orderBy(F.desc("occurrences"), F.asc("pair")).limit(top_n)
    w = W.orderBy(F.desc("occurrences"), F.asc("pair"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("pair", "occurrences", "rank")
    )


def _merge_pair(syms: Column, left: Column, right: Column) -> Column:
    """Replace every adjacent (left, right) occurrence in a symbol
    array with the concatenated symbol — one BPE merge applied to one
    row, as a pure JVM fold (no Python, no shuffle).

    ``aggregate`` carries (out, pending): each element either completes
    a pending match (emit merged, clear), rolls the pending symbol out,
    or becomes the new pending; the finish lambda flushes the tail.
    Left-to-right, non-overlapping — the same greedy order reference
    BPE implementations use (so "aaa" with merge (a,a) -> ["aa","a"]).
    """
    empty = F.array().cast("array<string>")
    acc0 = F.struct(
        empty.alias("out"), F.lit(None).cast("string").alias("pending")
    )
    return F.aggregate(
        syms,
        acc0,
        lambda acc, x: F.when(
            acc["pending"].isNull(),
            F.struct(acc["out"].alias("out"), x.alias("pending")),
        )
        .when(
            (acc["pending"] == left) & (x == right),
            F.struct(
                F.concat(
                    acc["out"], F.array(F.concat(left, right))
                ).alias("out"),
                F.lit(None).cast("string").alias("pending"),
            ),
        )
        .otherwise(
            F.struct(
                F.concat(acc["out"], F.array(acc["pending"])).alias("out"),
                x.alias("pending"),
            )
        ),
        lambda acc: F.when(
            acc["pending"].isNull(), acc["out"]
        ).otherwise(F.concat(acc["out"], F.array(acc["pending"]))),
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int = 10,
    min_count: int = 2,
) -> list[tuple[str, str, int]]:
    """Distributed BPE training (Sennrich et al., ACL'16): the full
    iterative merge loop, not just the single counting step
    (:func:`token_pair_counts`). Documents start as character-symbol
    arrays (whitespace-tokenized words, characters within a word, the
    word-boundary marker ``▁`` prefixed to each word); each round
    counts every adjacent symbol pair across the corpus, picks the
    most frequent (ties: lexicographic), and applies the merge to
    every document map-side. Returns the learned merge table
    ``[(left, right, count), ...]`` in merge order.

    Scale shape per round: pair counting is a per-row JVM zip + one
    hash aggregate with map-side combine over a vocabulary-bounded key
    space; the winning pair is ONE driver-side row (a planning
    decision, same class as AQE statistics — never corpus data); the
    merge apply is a narrow per-row fold (:func:`_merge_pair`) with no
    shuffle. The evolving symbol table is persisted each round and the
    previous round's cache dropped after the next is materialized —
    the same O(rounds) lineage discipline as
    :func:`~olist_lakehouse_2_0_spark.operators.dedup.dedup_components`.
    Stops early when no pair reaches ``min_count``."""
    syms = df.select(
        F.flatten(
            F.transform(
                tokens(F.col(text_col)),
                lambda w: F.concat(
                    F.array(F.lit("▁")),
                    # one array element per character (split on the
                    # zero-width regex leaves a leading "" in Spark)
                    F.regexp_extract_all(w, F.lit("."), 0),
                ),
            )
        ).alias("__syms")
    ).persist()
    merges: list[tuple[str, str, int]] = []
    prev = syms
    for _ in range(n_merges):
        pairs = F.arrays_zip(
            F.slice(F.col("__syms"), 1, F.greatest(F.size("__syms") - 1, F.lit(0))),
            F.slice(F.col("__syms"), 2, F.greatest(F.size("__syms") - 1, F.lit(0))),
        )
        top = (
            syms.select(F.explode(pairs).alias("__p"))
            .select(F.col("__p.0").alias("l"), F.col("__p.1").alias("r"))
            .groupBy("l", "r")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
            .first()
        )
        if top is None or top["n"] < min_count:
            break
        merges.append((top["l"], top["r"], top["n"]))
        merged = syms.select(
            _merge_pair(
                F.col("__syms"), F.lit(top["l"]), F.lit(top["r"])
            ).alias("__syms")
        ).persist()
        merged.count()  # materialize before dropping the parent cache
        prev.unpersist()
        syms = merged
        prev = merged
    prev.unpersist()
    return merges


def bpe_encode(
    df: DataFrame,
    text_col: str,
    merges: list[tuple],
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply a learned BPE merge table (from :func:`bpe_train`) to a
    corpus: texts become SentencePiece-style symbol arrays (the same
    ▁-marker symbolization training used), then each merge is applied
    in learned order as a JVM fold (:func:`_merge_pair`) — the whole
    encode is ONE narrow per-row projection, no shuffle, no Python.
    Returns ``df`` plus ``out_col: array<string>``.

    The merges compose into one nested expression tree (depth ∝
    |merges|); for production-sized merge tables (10k+), checkpoint
    the column every few hundred merges (``df.withColumn(...).persist()``)
    to bound Catalyst's expression depth — the per-row cost is the
    same either way."""
    syms = F.flatten(
        F.transform(
            tokens(F.col(text_col)),
            lambda w: F.concat(
                F.array(F.lit("▁")),
                F.regexp_extract_all(w, F.lit("."), 0),
            ),
        )
    )
    for m in merges:
        left, right = m[0], m[1]
        syms = _merge_pair(syms, F.lit(left), F.lit(right))
    return df.withColumn(out_col, syms)


def winnow_fingerprints(
    text: Column | str, k: int = 8, window: int = 4, normalized: bool = False
) -> Column:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    rolling xxhash64 over char k-grams, keep the min hash of each
    w-hash window, dedup. Robust partial-overlap detection — two
    documents sharing a long substring share fingerprints regardless of
    position.

    Pure array expressions (sequence/transform/slice/array_min), fully
    JVM-side: no UDF, no shuffle — linear scan per document.

    NOTE: as a single Column the hash array is captured by the
    window-min lambda and re-evaluated per element (higher-order
    functions don't CSE captured expression trees), making this
    O(len^2) per document. Fine for tests/small columns; the scale path
    is :func:`winnow_prints`, one vectorized pandas-UDF pass per
    document that emits (doc, fp) rows.
    """
    c = F.col(text) if isinstance(text, str) else text
    if normalized:
        norm = c
    else:
        norm = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    n_grams = F.greatest(F.length(norm) - F.lit(k - 1), F.lit(0))
    hashes = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.xxhash64(F.substring(norm, i, k)),
    )
    n_windows = F.greatest(F.size(hashes) - F.lit(window - 1), F.lit(0))
    mins = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda j: F.array_min(F.slice(hashes, j, window)),
    )
    return F.when(n_grams == 0, F.array().cast("array<bigint>")).otherwise(
        F.array_distinct(mins)
    )


def winnow_prints(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
    out_col: str = "fp",
) -> DataFrame:
    """Winnowing fingerprints, relational scale path: one (doc, fp) row
    per selected fingerprint.

    Explodes gram start positions, hashes each k-gram with a ROW-LEVEL
    ``xxhash64(substring(...))`` (whole-stage codegen — no higher-order
    functions), takes per-window minima with a frame-bounded window
    function, and dedups on the doc's partitioning. Exactly one shuffle
    (by doc for the window sort).

    Why not array HOFs: a lambda that captures an expression re-evaluates
    it per element (no CSE inside ``transform``), and CollapseProject can
    re-inline staged projections — under ``persist()`` this degraded to
    O(len^2) per document and hung. Rows + window functions are immune.
    """
    import re as _re

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    ws_re = _re.compile(r"\s+")
    # Polynomial rolling-hash base powers (mod 2^64 by natural uint64
    # wraparound), finished with a splitmix64-style avalanche. The
    # fingerprint VALUES differ from the xxhash64 HOF variant
    # (winnow_fingerprints) — winnowing consumers only compare
    # fingerprints to each other, never across schemes.
    powers = (np.uint64(257) ** np.arange(k, dtype=np.uint64))[::-1].copy()

    @pandas_udf("array<bigint>")
    def prints_of(texts: pd.Series) -> pd.Series:
        out = []
        for s in texts:
            norm = ws_re.sub(" ", s.strip(" ").lower()) if s else ""
            b = np.frombuffer(norm.encode("utf-8"), dtype=np.uint8)
            if len(b) < k:
                out.append(np.array([], dtype=np.int64))
                continue
            grams = np.lib.stride_tricks.sliding_window_view(b, k).astype(
                np.uint64
            )
            h = (grams * powers).sum(axis=1)
            h ^= h >> np.uint64(33)
            h *= np.uint64(0xFF51AFD7ED558CCD)
            h ^= h >> np.uint64(33)
            if len(h) < window:
                out.append(np.array([], dtype=np.int64))
                continue
            mins = np.lib.stride_tricks.sliding_window_view(h, window).min(
                axis=1
            )
            out.append(np.unique(mins).view(np.int64))
        return pd.Series(out)

    # Repartition by doc first: a handful of parquet files would
    # otherwise pin the per-char scan to a few cores. The whole
    # winnowing computation (k-gram rolling hash, per-window minima,
    # dedup) is ONE vectorized pandas-UDF pass per document — compared
    # to the earlier explode + window-function formulation this removes
    # a |doc|×|chars| row shuffle and its per-doc sort; compared to
    # array HOFs it avoids interpreted per-element lambdas. The only
    # shuffle left is the one the caller does on the fingerprint.
    return df.repartition(F.col(id_col)).select(
        F.col(id_col).alias("doc"),
        F.explode(prints_of(F.col(text_col))).alias(out_col),
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
    min_overlap: float = 0.5,
    max_fp_df: int | None = 8,
) -> DataFrame:
    """All-pairs fingerprint-overlap detection via an inverted index:
    explode fingerprints, self-join on the fingerprint value, count
    shared prints per pair, keep pairs with containment-overlap >=
    ``min_overlap`` (shared / smaller KEPT fingerprint set).

    Scale path: the join key is the 64-bit fingerprint — candidate
    generation is a hash-partitioned equi-join (same shape as LSH
    banding), never an O(n^2) cross join. ``max_fp_df`` stop-lists
    fingerprints appearing in more than that many documents (boilerplate
    n-grams) — without it, a corpus-wide common fingerprint makes the
    self-join quadratic in its document frequency.

    ``max_fp_df`` must be a LITERAL, by design. A corpus-relative cut
    computed lazily in-plan (threshold = one-row count aggregate
    broadcast into the filter) was tried and measured 6x slower at
    sf0.1: the non-foldable predicate leaves Catalyst unable to
    estimate the df-cut's output size, demoting every prints⋈rare join
    from broadcast to sort-merge and recomputing the fingerprint
    aggregate per consumer. Callers that want a corpus-relative
    threshold should resolve the row count once up front (a parquet
    count() reads only footer metadata; cache it per dataset) and pass
    the literal — though for exact-dup candidate generation, prefer
    :func:`winnow_dup_candidates`, whose cost does not depend on a
    corpus-relative cut at all.
    """
    from olist_lakehouse_2_0_spark.operators.dedup import _frequency_cut

    # Three downstream consumers (df-cut, sizes, self-join) would each
    # recompute the fingerprint scan; persist the compact (doc, fp)
    # index instead — 16 bytes/row regardless of document size. The
    # returned pairs read it lazily, so it stays cached after return;
    # see the cache rule in ``queries/__init__``.
    prints = winnow_prints(df, id_col, text_col, k, window).persist()
    if max_fp_df is not None:
        prints = _frequency_cut(prints, ["fp"], max_fp_df)
    return _overlap_pairs_from_prints(prints, min_overlap)


def _overlap_pairs_from_prints(
    prints: DataFrame, min_overlap: float
) -> DataFrame:
    """Containment-overlap pairs from a (doc, fp) index: self-join on
    fp, count shared prints per doc pair, keep overlap = shared /
    min(|kept prints|) >= ``min_overlap``. Shared by
    :func:`winnow_overlap_pairs` and tier 1 of
    :func:`winnow_dup_candidates` so the two can't drift; the join and
    the score tail are the dedup family's (``_equal_key_pairs``,
    ``_score_pairs``)."""
    from olist_lakehouse_2_0_spark.operators.dedup import (
        _equal_key_pairs,
        _score_pairs,
    )

    sizes = prints.groupBy("doc").agg(F.count(F.lit(1)).alias("n_fp"))
    shared = (
        _equal_key_pairs(prints, "doc", "fp")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return _score_pairs(
        shared, sizes, "overlap",
        F.col("shared") / F.least("__size_a", "__size_b"), min_overlap,
        keep=("shared",),
    )


def winnow_dup_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
    min_overlap: float = 0.8,
    max_fp_df: int = 64,
) -> DataFrame:
    """Scale-safe FULL-RECALL candidate pairs for exact-duplicate
    verification, two-tiered:

    1. **Rare-print inverted index** — the winnow overlap self-join,
       but only over fingerprints with document frequency <=
       ``max_fp_df`` (a SCALE-INDEPENDENT constant). Self-join cost is
       sum(df^2) over kept fingerprints, bounded by max_fp_df * total
       prints regardless of corpus size.
    2. **Identical-multiset signature join** — per-document xxhash64 of
       the SORTED fingerprint list; documents whose every fingerprint
       is corpus-common (erased by tier 1's cut) still collide here,
       because exact duplicates have IDENTICAL fingerprint multisets.
       The multiset (sorted collect_list), not the set: docs built
       from the same boilerplate at different repetition counts share
       the SET but not the multiset, so they no longer form one giant
       all-pairs signature cluster — remaining clusters are
       overwhelmingly true dup groups, whose pair count the OUTPUT
       itself is quadratic in anyway.

    Recall argument for exact dups: a dup pair shares its whole
    fingerprint multiset. If any member fingerprint is rare, both docs
    keep identical kept-sets in tier 1 (overlap 1.0); if none is,
    tier 2's multiset signature matches. Either way the pair is a
    candidate.

    This replaces the corpus-relative df-cut (max(64, n/10)) the
    verified query used before: that threshold grows with the corpus,
    and sum(df^2) under it measured 436M pair-units on a repetitive
    10k-doc corpus (~15 s) vs 3.6M (~2 s) for the two-tier form — at
    1e9 docs the n/10 cut would be catastrophic while this stays
    linear. Candidate PRECISION is the caller's verification step.
    Persisted print blocks stay cached after return; see the cache
    rule in ``queries/__init__``.
    """
    from olist_lakehouse_2_0_spark.operators.dedup import (
        _equal_key_pairs,
        _frequency_cut,
    )

    prints = winnow_prints(df, id_col, text_col, k, window).persist()
    tier1 = _overlap_pairs_from_prints(
        _frequency_cut(prints, ["fp"], max_fp_df), min_overlap
    ).select("id_a", "id_b")
    sig = prints.groupBy("doc").agg(
        F.xxhash64(F.sort_array(F.collect_list("fp"))).alias("__sig")
    )
    tier2 = _equal_key_pairs(sig, "doc", "__sig")
    return tier1.unionByName(tier2).distinct()


def profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full per-document text-analysis column set."""
    t = F.col(text_col)
    return df.select(
        "*",
        token_count(t).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_bpe_tokens"),
        F.length(t).alias("n_chars_measured"),
        stopword_ratio(t).alias("stopword_ratio"),
        punct_ratio(t).alias("punct_ratio"),
        mean_token_length(t).alias("mean_token_len"),
        quality_score(t).alias("quality_score"),
        lang_guess(t).alias("lang_guess"),
        fingerprint(t).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (Robertson & Zaragoza, "The Probabilistic
# Relevance Framework: BM25 and Beyond", FnTIR 2009). The lexical
# complement to the embedding ANN family: similarity.py ranks by dense
# cosine, this ranks by sparse term statistics — the two legs of the
# standard hybrid-retrieval data pipeline (e.g. mining training pairs
# or hard negatives at corpus scale).
# ---------------------------------------------------------------------------


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id: str = "query_id",
    term_col: str = "term",
) -> DataFrame:
    """Okapi BM25 top-k over a document corpus.

    ``queries`` is one row per (query, term) — the already-tokenized
    sparse query representation. Returns ``(query_id, id_col,
    score_units, rank)`` for the ``k`` best-scoring documents per
    query, where ``score_units`` is the BM25 score in integer 1e-6
    units: each term's contribution ``idf * tf_saturation`` is
    quantized before the per-document sum (see ``fixedpoint``), so the
    score is an order-independent integer.

    Plan shape: ONE tokenize pass feeds tf, document length, document
    frequency, and the corpus totals (persisted ``(doc, term, tf)``
    frame); the query terms are broadcast into the tf relation, so the
    only corpus-sized shuffles are the tf groupBy and the per-document
    score aggregation. ``dl/avgdl`` is computed as ``(dl * n) / total``
    from exact integers — no pre-rounded average intermediate."""
    toks = docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("__term")
    )
    tf = (
        toks.groupBy(id_col, "__term")
        .agg(F.count(F.lit(1)).alias("__tf"))
        # The returned (lazy) ranking reads it on every downstream
        # action, so it stays cached after return; see the cache rule
        # in ``queries/__init__``.
        .persist()
    )
    # dl and the corpus totals derive from the PERSISTED tf frame, not
    # from toks — sum(tf) per doc IS the document length, and reading
    # the cached (doc, term, tf) rows avoids re-running the tokenize +
    # explode scan once per downstream subtree.
    dl = tf.groupBy(id_col).agg(F.sum("__tf").cast("long").alias("__dl"))
    stats = dl.agg(
        F.sum("__dl").alias("__tot"), F.count(F.lit(1)).alias("__n")
    )
    dfreq = tf.groupBy("__term").agg(F.count(F.lit(1)).alias("__df"))
    terms = queries.select(F.col(query_id), F.col(term_col).alias("__term"))
    # Document frequencies restricted to the query vocabulary: the
    # full df relation is corpus-sized, but only |query terms| rows of
    # it matter, so cut it down before broadcasting.
    qdf = dfreq.join(F.broadcast(terms.select("__term").distinct()), "__term")
    matched = (
        tf.join(F.broadcast(terms), "__term")
        .join(F.broadcast(qdf), "__term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        F.lit(1.0)
        + ((F.col("__n") - F.col("__df")).cast("double") + F.lit(0.5))
        / (F.col("__df").cast("double") + F.lit(0.5))
    )
    rel_len = (F.col("__dl") * F.col("__n")).cast("double") / F.col(
        "__tot"
    ).cast("double")
    sat = (F.col("__tf").cast("double") * (F.lit(k1) + F.lit(1.0))) / (
        F.col("__tf").cast("double")
        + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * rel_len)
    )
    contrib_units = quantize(idf * sat)
    scored = (
        matched.select(query_id, id_col, contrib_units.alias("__u"))
        .groupBy(query_id, id_col)
        .agg(F.sum("__u").alias("score_units"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy(query_id).orderBy(
        F.desc("score_units"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, id_col, "score_units", "rank")
    )
