"""Deduplication operators for training-data pipelines: exact,
n-gram-Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.

Beyond-reference surface (BASELINE.json north star). Every operator is
a pure DataFrame composition designed around one principle: **never
materialize the O(n²) pair space** — candidates come from equi-joins on
content-derived keys (fingerprints, LSH band buckets, SimHash chunks,
hyperplane buckets), so the shuffle volume is proportional to data +
true-near-dup pairs, not to n².

At 100 TB: every stage is shuffle-partitioned by doc or bucket key;
hot buckets (boilerplate shingles) are handled by dropping
super-frequent shingles (``max_shingle_df``) the same way production
MinHash pipelines drop stop-shingles.

Each filter → verify step is written once, as a private helper here
(frequency cut, bucket pairs, identical-signature collapse, equal-key
pairs, pair-score tail, key-equality verify, shingle-set key) that the
winnowing operators in ``text.py`` and the verified queries share.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from olist_lakehouse_2_0_spark.operators.text import fingerprint, tokens

# Mersenne prime 2^31-1 as the minhash universal-hash modulus: keeps
# (a*h + b) below 2^62, so the JVM long multiply never overflows.
_MERSENNE = (1 << 31) - 1


def _frequency_cut(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Keep the rows of ``df`` whose ``keys`` value is held by at most
    ``cap`` rows (exactly ``cap`` stays): the stop-shingle, rare-print
    and hot-bucket cut. The count is map-side combinable and the
    left-semi join never widens ``df``; a collect-then-drop of posting
    lists funnels each hot key into one task (2x slower at sf0.1).
    Grouped buckets apply the same cap as a size filter
    (:func:`_bucket_pairs`)."""
    cool = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= cap)
        .select(*keys)
    )
    return df.join(cool, keys, "left_semi")


def _equal_key_pairs(df: DataFrame, id_col: str, key: str) -> DataFrame:
    """(id_a, id_b) with id_a < id_b for every ``key`` value the two
    rows share: the self-equi-join on a content key (fingerprint,
    shingle hash, multiset signature). One output row per shared key
    row, so callers count common keys with a groupBy."""
    a = df.select(F.col(id_col).alias("id_a"), key)
    b = df.select(F.col(id_col).alias("id_b"), key)
    return (
        a.join(b, key)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )


def _score_pairs(
    common: DataFrame, sizes: DataFrame, name: str, score: Column,
    threshold: float, keep: tuple[str, ...] = (),
) -> DataFrame:
    """The pair-score tail: join the per-id ``sizes`` — an (id, size)
    frame, renamed here to ``__size_a`` / ``__size_b`` — onto both
    sides of the counted pairs ``common`` (id_a, id_b, …), compute
    ``score`` over those columns as ``name`` and keep the pairs at or
    above ``threshold``. Returns (id_a, id_b, *keep, name)."""
    return (
        common.join(sizes.toDF("id_a", "__size_a"), "id_a")
        .join(sizes.toDF("id_b", "__size_b"), "id_b")
        .withColumn(name, score)
        .filter(F.col(name) >= threshold)
        .select("id_a", "id_b", *keep, name)
    )


def _jaccard_scores(common: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """Jaccard = common / (|A| + |B| - common) over ``__common`` counts."""
    c, a, b = F.col("__common"), F.col("__size_a"), F.col("__size_b")
    return _score_pairs(common, sizes, "jaccard", c / (a + b - c), threshold)


def _keys_equal(
    cands: DataFrame, keys_a: DataFrame, keys_b: DataFrame | None = None,
    a: str = "id_a", b: str = "id_b",
) -> DataFrame:
    """The key-equality verify: keep the candidate pairs (``a``, ``b``)
    whose two documents carry equal keys. ``keys_a`` is an (id, key)
    frame for side ``a``; ``keys_b`` (default: the same frame) for side
    ``b``. Exact for any key whose collisions are accepted (64-bit
    fingerprints: 2^-64 per pair). Returns (``a``, ``b``)."""
    keys_b = keys_a if keys_b is None else keys_b
    return (
        cands.join(keys_a.toDF(a, "__ka"), a)
        .join(keys_b.toDF(b, "__kb"), b)
        .filter(F.col("__ka") == F.col("__kb"))
        .select(a, b)
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on normalized-text fingerprint: keeps the lowest id
    per duplicate group (hash-groupBy; one shuffle on the 64-bit
    fingerprint, never on the full text). ``min(id)`` is a map-side
    combinable aggregate — each task pre-reduces its partition to one
    row per fingerprint before the shuffle, unlike a row_number window
    which would sort every group's full membership."""
    fp = df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("__fp"))
    keep = fp.groupBy("__fp").agg(F.min(id_col).alias(id_col)).select(id_col)
    return df.join(keep, id_col, "left_semi")


def token_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word-level n-gram shingles of ``text``.

    Built by zipping n shifted slices of the token array —
    ``arrays_zip`` evaluates each argument exactly once per row, and
    the transform lambda touches only its own struct element. (A lambda
    that captured the token array would re-evaluate the tokenizer per
    element: higher-order functions don't CSE captured expressions,
    which measured ~5x slower here.)"""
    toks = tokens(text)
    m = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(toks, F.lit(i + 1), m) for i in range(n)])
    grams = F.transform(
        z, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])
    )
    return F.array_distinct(grams)


def _shingle_set_key(text: Column) -> Column:
    """64-bit key of a document's distinct word 3-gram SET (sorted,
    joined on an unlikely separator, xxhash64), the key the MinHash
    queries' set-equality verifies compare: set-equal documents get
    equal keys, and distinct sets collide at the accepted fingerprint
    risk (2^-64 per pair)."""
    return F.xxhash64(F.array_join(F.array_sort(token_shingles(text, 3)), "\x1f"))


def hashed_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, out_col: str = "__hs"
) -> DataFrame:
    """Shared shingle scan: ``(id_col, out_col: array<bigint>)`` with
    the xxhash64 of each distinct word n-gram. :func:`jaccard_pairs`
    builds its index from it, and :func:`minhash_signatures` accepts it
    via ``hashes_col``, so a pipeline that runs several dedup schemes
    over one corpus (the verified-companion pattern:
    ``minhash_verified_dups`` feeds the signatures and the
    :func:`jaccard_pairs_from_postings` index from one persisted frame)
    tokenizes and shingles the corpus ONCE."""
    return df.select(
        F.col(id_col),
        F.transform(
            token_shingles(F.col(text_col), n), lambda s: F.xxhash64(s)
        ).alias(out_col),
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >=1 shingle.

    doc->shingle explode, self-equi-join on shingle (id_a < id_b),
    count common shingles, Jaccard = common / (|A| + |B| - common).
    ``max_shingle_df`` drops shingles appearing in more than that many
    docs (boilerplate guard — at scale a handful of super-common
    shingles would otherwise create quadratic candidate blowup).
    Returns (id_a, id_b, jaccard) with jaccard >= threshold.

    Two r11 rewrites were measured here and REVERTED, keeping this the
    r10 shape:

    - postings-before-cut (collect each shingle's member list, THEN
      drop lists over the cap): hot shingles funnel into one
      sort-based aggregation task only to be discarded — 2x slower at
      sf0.1 and unbounded at 100 TB (the ADVICE r10 hot-key lesson).
      The cut must stay a map-side-combinable COUNT aggregate.
    - post-cut group-and-combine (groupBy(shingle) + bounded
      combination explode replacing the self-join): same exchange
      count as the join but swaps a codegen hash join for an
      ObjectHashAggregate collect — jaccard_dups measured 1.8 → 3.3 s
      same-window at sf0.1. Group-and-combine only wins where it
      REMOVES exchanges (the banding rewrite: 3 → 1) or where the
      postings already exist for another pipeline
      (:func:`jaccard_pairs_from_postings`, used by
      minhash_verified_dups' shared index).
    """
    # Repartition by id first: a few large input files would pin the
    # tokenizer/explode stage to a few cores. Shingles are immediately
    # collapsed to 64-bit xxhash keys: the candidate self-join and the
    # document-frequency cut shuffle 8 bytes per shingle instead of the
    # shingle text (distinctness is preserved up to 2^-64 collisions —
    # same rationale as fingerprint dedup; the DuckDB oracle joins on
    # the shingle text and hash-matches).
    # Persist the COMPACT (id, hash array) frame before exploding: the
    # df-cut below consumes the exploded rows twice (frequency aggregate
    # + semi join back), and without this persist each consumer re-runs
    # the full tokenizer scan — the explode itself is a narrow re-read
    # of the cached arrays (guide §1.2).
    hashed = hashed_shingles(
        df.repartition(F.col(id_col)), id_col, text_col, n
    ).persist()
    sh = hashed.select(
        F.col(id_col).alias("__id"), F.explode("__hs").alias("__shingle")
    )
    if max_shingle_df is not None:
        sh = _frequency_cut(sh, ["__shingle"], max_shingle_df)
    # sh feeds sizes + both join sides; persist the compact (id, shingle)
    # index so the tokenizer scan runs once.
    sh = sh.persist()
    sizes = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("__size"))
    common = (
        _equal_key_pairs(sh, "__id", "__shingle")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__common"))
    )
    return _jaccard_scores(common, sizes, threshold)


def jaccard_pairs_from_postings(
    postings: DataFrame, threshold: float, sizes: DataFrame | None = None
) -> DataFrame:
    """Exact Jaccard pairs from an inverted index: ``postings`` is one
    row per KEPT shingle with its SORTED member-id array ``__ids`` (the
    relation :func:`jaccard_pairs` builds post-cut; callers that
    already materialize the cut shingle space for another pipeline —
    the verified-companion pattern — pass their postings here directly
    and skip the rebuild). Common counts come from the bounded C(n,2)
    combination explode (id_a < id_b free from the sort); per-doc
    sizes from one explode of the lists, or from ``sizes`` — a
    (``__id``, ``__size``) frame — when the caller can derive them
    without an aggregation (e.g. ``F.size`` over already-materialized
    per-doc arrays). Jaccard = common / (|A| + |B| - common); only
    pairs >= ``threshold`` return. ``postings`` should be persisted by
    the caller when it feeds both the sizes aggregate and the pair
    units."""
    if sizes is None:
        sizes = (
            postings.select(F.explode("__ids").alias("__id"))
            .groupBy("__id")
            .agg(F.count(F.lit(1)).alias("__size"))
        )
    common = (
        postings.filter(F.size("__ids") >= 2)
        .select(F.explode(_member_combinations("__ids")).alias("__p"))
        .groupBy(
            F.col("__p.a").alias("id_a"), F.col("__p.b").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("__common"))
    )
    return _jaccard_scores(common, sizes, threshold)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    n: int = 3,
    seed: int = 42,
    hashes_col: str | None = None,
) -> DataFrame:
    """MinHash signatures: shingle -> xxhash64 -> k universal hashes
    ((a*h + b) mod 2^31-1) -> min per hash function.

    Returns (id, sig: array<bigint> of length num_hashes). Hybrid
    JVM/numpy execution: the JVM hashes each distinct shingle once
    (``transform`` + ``xxhash64``), then an Arrow-batched pandas UDF
    computes the k minima as one (shingles × k) broadcasted matrix op
    per document. No explode, no shuffle — signatures are a narrow
    per-row map, so at scale the stage cost is a single pass over the
    corpus (the earlier explode+groupBy formulation shuffled
    |doc|×|shingles| rows and ran k aggregate updates per shingle:
    measured 2–7× slower at sf0.1 and strictly worse at 100 TB).
    Overflow-safe: h, a < 2^31 so a*h+b < 2^63 stays in int64.

    Docs with zero shingles (empty/whitespace text) are dropped, same
    as the explode formulation they replace.
    """
    import random

    from pyspark.sql.functions import pandas_udf

    rnd = random.Random(seed)
    coeffs = [
        (rnd.randrange(1, _MERSENNE), rnd.randrange(0, _MERSENNE))
        for _ in range(num_hashes)
    ]
    a_vec = np.array([a for a, _ in coeffs], dtype=np.int64)
    b_vec = np.array([b for _, b in coeffs], dtype=np.int64)

    @pandas_udf("array<bigint>")
    def sig_of(hashes: pd.Series) -> pd.Series:
        out = []
        for h in hashes:
            m = (np.asarray(h, dtype=np.int64)[:, None] * a_vec + b_vec) % _MERSENNE
            out.append(m.min(axis=0))
        return pd.Series(out)

    if hashes_col is not None:
        # Shared scan: reduce the precomputed xxhash64 shingles (see
        # :func:`hashed_shingles`) into the Mersenne field; pmod of the
        # raw hash equals pmod(xxhash64(s), M) computed from text.
        grams = F.transform(
            F.col(hashes_col), lambda h: F.pmod(h, F.lit(_MERSENNE))
        )
    else:
        grams = F.transform(
            token_shingles(F.col(text_col), n),
            lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE)),
        )
    hashed = df.select(F.col(id_col), grams.alias("__hs")).filter(
        F.size("__hs") > 0
    )
    return hashed.select(F.col(id_col), sig_of("__hs").alias("sig"))


def _collapse_identical_signatures(
    signatures: DataFrame, id_col: str, sig_col: str = "sig"
) -> tuple[DataFrame, DataFrame]:
    """Collapse signature-identical docs to one representative (min id)
    BEFORE any banding join — the degenerate-corpus guard (VERDICT r4
    next-step #1). N identical documents produce identical signatures,
    so without the collapse they all land in the same (band, bucket)
    and the candidate self-join emits N²/2 pairs on ONE shuffle key;
    collapsed, they contribute a single row to every band. Same
    discipline as the winnowing rare-print cut
    (:func:`..text.winnow_dup_candidates`) and the reference's own
    groupBy-first geolocation dedup (reference
    src/pipelines/silver/geolocation.sql:15-32).

    The group key is ``xxhash64(sig)`` — identical arrays hash equal;
    distinct signatures collide with probability 2^-64 per pair (the
    same accepted risk as fingerprint dedup). Returns
    ``(rep_sigs, members)``: the signature rows of the representatives
    only, and the full (``__id``, ``__rep``) membership map.

    Hot-group exposure (ADVICE r10 #1), accepted knowingly: the window
    buffers each signature group in one task partition that AQE cannot
    split and that has no map-side combine, so a boilerplate signature
    shared by a large corpus fraction serializes into one task. That
    group's PAYLOAD is (id, sig) rows — ~0.5 KB each, so even a
    10⁷-member group is ~5 GB in ONE spill-capable sort task, slow but
    bounded — and the window is what REMOVES the same group from every
    downstream quadratic join. The groupBy alternative restores the
    map-side combine for the reps side but re-introduces the extra
    membership-join exchanges for every normal corpus; a corpus whose
    duplicate groups are known to be mega-sized should pre-aggregate
    ``min(id)`` per ``__sk`` (two-level aggregation, guide §2.5)
    before this operator instead.
    """
    rep_sigs, members = _collapse_identical(
        signatures.withColumn("__sk", F.xxhash64(sig_col)), id_col, "__sk"
    )
    return rep_sigs.drop("__sk"), members


def _collapse_identical(
    df: DataFrame, id_col: str, key: str
) -> tuple[DataFrame, DataFrame]:
    """The rows of the representatives (min id per ``key``) and the
    (``__id``, ``__rep``) membership map, both from ONE ``min(id) over
    (partition by key)`` window: a single exchange, where groupBy +
    membership join + representative semi-join shuffled twice more
    (guide §2.4). MinHash keys on the signature's xxhash64, SimHash on
    the 64-bit signature itself."""
    marked = df.withColumn("__rep", F.min(id_col).over(W.partitionBy(key)))
    members = marked.select(F.col(id_col).alias("__id"), "__rep")
    reps = marked.filter(F.col(id_col) == F.col("__rep")).drop("__rep")
    return reps, members


def _expand_identical_pairs(
    rep_pairs: DataFrame,
    members: DataFrame,
    intra_values: dict[str, Column] | None = None,
) -> DataFrame:
    """Re-expand representative-level pairs to full doc-level pairs.

    Cross-group pairs: the membership map is first grouped to ONE row
    per representative holding its sorted member-id array (a single
    shuffle), then each surviving representative pair joins the two
    (tiny, one-row-per-group) sides and explodes the member product
    as a JVM higher-order flatten — the output is proportional to the
    TRUE pair-set size, and no row-level membership table is shuffled
    per side (the earlier 3-join row-level formulation cost ~3 s of
    pure stage overhead at sf0.1). Extra columns on ``rep_pairs``
    (est_jaccard, hamming) are symmetric similarity values shared by
    the whole group pair and ride along unchanged. Intra-group pairs
    (identical signatures) get the literal ``intra_values`` (est 1.0 /
    hamming 0) and come from index-windowed combinations over each
    group's sorted array — no self-join. Ordering is restored with
    least/greatest; the two sets are disjoint and duplicate-free, so
    no distinct pass is needed."""
    extra = [c for c in rep_pairs.columns if c not in ("id_a", "id_b")]
    groups = members.groupBy("__rep").agg(
        F.sort_array(F.collect_list("__id")).alias("__ids")
    )
    ga = groups.select(
        F.col("__rep").alias("id_a"), F.col("__ids").alias("__ids_a")
    )
    gb = groups.select(
        F.col("__rep").alias("id_b"), F.col("__ids").alias("__ids_b")
    )
    prod = F.flatten(
        F.transform(
            "__ids_a",
            lambda x: F.transform(
                "__ids_b",
                lambda y: F.struct(
                    F.least(x, y).alias("a"), F.greatest(x, y).alias("b")
                ),
            ),
        )
    )
    cross = (
        rep_pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .select(F.explode(prod).alias("__p"), *extra)
        .select(
            F.col("__p.a").alias("id_a"), F.col("__p.b").alias("id_b"), *extra
        )
    )
    intra_vals = intra_values or {}
    intra = groups.select(
        F.explode(_member_combinations("__ids")).alias("__p")
    ).select(
        F.col("__p.a").alias("id_a"),
        F.col("__p.b").alias("id_b"),
        *[intra_vals[c].alias(c) for c in extra],
    )
    return cross.unionByName(intra)


def _banded(
    rep_sigs: DataFrame,
    id_col: str,
    bands: int,
    rows_per_band: int,
) -> DataFrame:
    """Explode representative signatures into (band, bucket) rows — a
    narrow map. The hot-bucket cap is applied downstream where the rows
    are grouped anyway (:func:`_bucket_pairs` for the one-shot paths;
    :func:`_frequency_cut` at probe time for the incremental index,
    whose banding rows are STORED uncapped)."""
    return rep_sigs.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        # hash the band's signature longs DIRECTLY —
                        # xxhash64 over the typed values; the earlier
                        # concat_ws form materialized a ~40-char string
                        # per (row, band) just to feed the same hash
                        # (bucket identity is preserved: equal rows
                        # hash equal, distinct rows collide at the
                        # already-accepted 2^-64)
                        F.xxhash64(
                            *[
                                F.col("sig")[b * rows_per_band + r]
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__band"),
    ).select("__id", "__band.band", "__band.bucket")


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str,
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_df: int | None = None,
    expand_identical: bool = True,
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` bands of
    ``rows_per_band`` values; docs sharing any band hash are candidates.
    Returns distinct (id_a, id_b) candidate pairs via equi-join on
    (band_index, band_hash) — never a cross join.

    Scale guards (VERDICT r4 next-step #1):

    - Signature-identical docs are collapsed to one representative
      before banding (:func:`_collapse_identical_signatures`), then
      re-expanded afterwards — identical sigs share EVERY band, so the
      expansion provably reproduces the uncollapsed pair set while the
      banding join sees each distinct signature once. A degenerate
      corpus region (10⁴ identical boilerplate docs) contributes ONE
      row per band instead of a 10⁸/2-pair shuffle key.
    - ``max_bucket_df`` (optional) additionally drops (band, bucket)
      groups holding more than that many DISTINCT signatures — a
      mega-cluster of mutually-near (but non-identical) docs. Recall
      bound: a true pair is lost only if EVERY shared band is dropped;
      at the default 16×4 banding a 0.9-similar pair shares ~16·0.9⁴
      ≈ 10.5 bands in expectation, so isolated hot buckets cost little.
    - ``expand_identical=False`` returns representative-level pairs
      only (one row per signature-group pair) — the output-bounded
      shape for pipelines that feed :func:`dedup_components` anyway,
      where a quadratic intra-group pair list adds nothing (recover
      groups with the ``cliques=True`` component pass over the
      signature-equality key).
    """
    rep_sigs, members = _collapse_identical_signatures(signatures, id_col)
    banded = _banded(rep_sigs, id_col, bands, rows_per_band)
    rep_pairs = _bucket_pairs(banded, ["band", "bucket"], "__id", max_bucket_df)
    if not expand_identical:
        return rep_pairs
    return _expand_identical_pairs(rep_pairs, members)


def _ab_pair(x: Column, y: Column) -> Column:
    return F.struct(x.alias("a"), y.alias("b"))


def _member_combinations(ids: str, pair=_ab_pair) -> Column:
    """All index-ordered element pairs of a sorted array — C(n,2)
    ``pair(x, y)`` values (default struct<a,b>) with x before y,
    emitted by a JVM higher-order flatten. The one combination explode
    of the family: bucket pairs, posting-list pairs and intra-group
    pairs."""
    ids = F.col(ids)
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)), lambda y: pair(x, y)
            ),
        )
    )


def _bucket_pairs(
    rows: DataFrame,
    keys: list[str],
    member: Column | str,
    cap: int | None = None,
    pair=_ab_pair,
) -> DataFrame:
    """Distinct pairs of members sharing a bucket, through ONE exchange:
    group ``rows`` by ``keys`` into a sorted ``member`` array, drop hot
    buckets as a size filter (the :func:`_frequency_cut` cap:
    member-row count, kept at ==cap) and explode each bucket's C(n,2)
    combinations — id order comes free from the sort. ``pair`` builds
    each combination as a struct whose ``a`` / ``b`` become ``id_a`` /
    ``id_b``; further fields ride along. A count aggregate + semi-join +
    self-join shuffled the rows three times for the same pairs (guide
    §2.4); either shape funnels a bucket through one task. MinHash bands
    and SimHash chunks share it."""
    grouped = rows.groupBy(*keys).agg(
        F.sort_array(F.collect_list(member)).alias("__ids")
    )
    size_ok = F.size("__ids") >= 2
    if cap is not None:
        size_ok = size_ok & (F.size("__ids") <= cap)
    return (
        grouped.filter(size_ok)
        .select(F.explode(_member_combinations("__ids", pair)).alias("__p"))
        .select("__p.*")
        .withColumnsRenamed({"a": "id_a", "b": "id_b"})
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket_df: int | None = None,
    expand_identical: bool = True,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: signatures -> band candidates
    -> signature-similarity verify. Returns (id_a, id_b, est_jaccard).

    est_jaccard is the fraction of matching signature positions (the
    unbiased MinHash estimator), verified only on LSH candidates.

    Degenerate-corpus guard: signature-identical docs collapse to one
    representative before banding AND before the verify join, then the
    verified pairs re-expand (cross pairs inherit the representatives'
    est_jaccard — signatures equal position-wise within a group — and
    intra-group pairs get est 1.0, which any threshold <= 1 admits).
    Output is provably identical to the uncollapsed pipeline; the
    banding and verify shuffles see each distinct signature once. See
    :func:`minhash_lsh_candidates` for ``max_bucket_df`` /
    ``expand_identical``."""
    rows_per_band = num_hashes // bands
    # sigs feed banding + both verify sides; persist (id, 64 longs).
    # (The returned frame reads it lazily, so it stays cached after
    # return; see the cache rule in ``queries/__init__``.)
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, n, seed).persist()
    rep_sigs, members = _collapse_identical_signatures(sigs, id_col)
    banded = _banded(rep_sigs, id_col, bands, rows_per_band)
    cand = _bucket_pairs(banded, ["band", "bucket"], "__id", max_bucket_df)
    sa = rep_sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("__sig_a"))
    sb = rep_sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("__sig_b"))
    matches = F.size(
        F.filter(
            F.zip_with("__sig_a", "__sig_b", lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", matches / F.lit(num_hashes))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )
    if not expand_identical:
        return verified
    return _expand_identical_pairs(
        verified, members, {"est_jaccard": F.lit(1.0)}
    )


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, bits: int = 64
) -> DataFrame:
    """SimHash signatures: per-token 64-bit hashes vote per bit
    position; the sign of each bit's vote forms the signature.

    Hybrid JVM/numpy execution, same pattern as
    :func:`minhash_signatures`: the JVM hashes each token once
    (``transform`` + ``xxhash64``), then an Arrow-batched pandas UDF
    unpacks the hash bits ((tokens × 64) matrix), sums the ±1 votes per
    bit column, and packs the sign bits — no explode, no shuffle, a
    narrow per-row map. Docs with zero tokens are dropped (the explode
    formulation they replace emitted no rows for them either).
    Returns (id, __sh: bigint)."""
    from pyspark.sql.functions import pandas_udf

    shifts = np.arange(bits, dtype=np.uint64)

    @pandas_udf("bigint")
    def sig_of(hashes: pd.Series) -> pd.Series:
        out = []
        for h in hashes:
            hv = np.asarray(h, dtype=np.int64).view(np.uint64)
            bits_m = (hv[:, None] >> shifts) & np.uint64(1)  # tokens × bits
            votes = 2 * bits_m.astype(np.int64).sum(axis=0) - len(hv)
            sig = ((votes > 0).astype(np.uint64) << shifts).sum()
            out.append(np.uint64(sig).astype(np.int64))
        return pd.Series(out)

    hashed = df.select(
        F.col(id_col),
        F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t)).alias(
            "__hs"
        ),
    ).filter(F.size("__hs") > 0)
    return hashed.select(F.col(id_col).alias(id_col), sig_of("__hs").alias("__sh"))


def simhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket_df: int | None = None,
    expand_identical: bool = True,
) -> DataFrame:
    """SimHash near-dup: pigeonhole on 16-bit chunks (hamming <= 3 with
    4 chunks guarantees >=1 identical chunk), equi-join candidates on
    (chunk_index, chunk_value), verify with popcount(xor).
    Returns (id_a, id_b, hamming).

    Degenerate-corpus guard (VERDICT r4 next-step #1): docs with the
    SAME 64-bit signature collapse to one representative (keyed on the
    signature itself — no hashing needed) before the chunk buckets, then
    re-expand: identical signatures collide in every chunk and have
    hamming 0 (<= any max_hamming), so the expansion provably
    reproduces the uncollapsed pair set while the (chunk, value) join
    sees each distinct signature once. ``max_bucket_df`` optionally
    drops chunk buckets holding more than that many DISTINCT
    signatures (recall bound: a true pair is lost only if every shared
    chunk bucket is dropped); ``expand_identical=False`` returns
    representative-level pairs only (see
    :func:`minhash_lsh_candidates`)."""
    # sigs feeds the collapse window and (via reps) the chunk buckets —
    # persist so the pandas-UDF signature pass runs once (left cached
    # after return: the cache rule in ``queries/__init__``). The
    # collapse is one min-over-window on the exact signature — a single
    # exchange yielding both the membership map and the representative
    # rows (guide §2.4).
    sigs = simhash_signatures(df, id_col, text_col).persist()
    reps, members = _collapse_identical(sigs, id_col, "__sh")
    sh = reps.select(F.col(id_col).alias("__id"), "__sh")
    chunk_bits = 64 // chunks
    mask = (1 << chunk_bits) - 1
    chunked = sh.select(
        "__id",
        "__sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned("__sh", i * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("value"),
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("__c"),
    ).select("__id", "__sh", "__c.chunk", "__c.value")
    # Candidate pairs from the (chunk, value) buckets with the MinHash
    # bands' one-exchange group-and-combine; members are (id, sig)
    # structs, so id_a < id_b still comes free from the array sort
    # (structs order by their first field and ids are unique) and each
    # pair carries both signatures to the verify.
    verified = (
        _bucket_pairs(
            chunked,
            ["chunk", "value"],
            F.struct("__id", "__sh"),
            max_bucket_df,
            lambda x, y: F.struct(
                x["__id"].alias("a"),
                y["__id"].alias("b"),
                x["__sh"].alias("__sh_a"),
                y["__sh"].alias("__sh_b"),
            ),
        )
        .withColumn("hamming", F.bit_count(F.col("__sh_a").bitwiseXOR(F.col("__sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    if not expand_identical:
        return verified
    return _expand_identical_pairs(
        verified, members, {"hamming": F.lit(0)}
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    planes: int = 16,
    seed: int = 7,
) -> DataFrame:
    """Embedding-cosine near-dup via random-hyperplane LSH: bucket =
    sign-bit string over ``planes`` fixed pseudo-random hyperplanes;
    verify cosine only within buckets.

    The hyperplane matrix is generated on the driver from
    ``random.Random(seed)`` (deterministic, reproducible across
    runs/executors) and closed over by an Arrow-batched pandas UDF:
    bucketing is one numpy matmul per batch ((rows × dim) @ (dim ×
    planes) → sign bits), ~100× faster than per-element higher-order
    functions, and embarrassingly parallel across partitions. The
    bucket equi-join + cosine verify never materialize the O(n²) pair
    space.

    Recall note: single-table hyperplane LSH misses near-dups straddling
    a plane; production settings use multiple tables (call with
    different seeds and union) — same primitive, unioned candidates.
    """
    import random

    from pyspark.sql.functions import pandas_udf

    rnd = random.Random(seed)
    # The hyperplane matrix needs the embedding dimensionality up
    # front — one single-row probe job. Empty input (or a null first
    # vector) short-circuits to an empty result with the right schema.
    first = df.filter(F.col(vec_col).isNotNull()).select(vec_col).first()
    if first is None:
        return (
            df.sparkSession.createDataFrame(
                [], f"id_a {df.schema[id_col].dataType.simpleString()}, "
                    f"id_b {df.schema[id_col].dataType.simpleString()}, "
                    "cosine double",
            )
        )
    dim = len(first[0])
    plane_mat = np.array(
        [[rnd.uniform(-1.0, 1.0) for _ in range(planes)] for _ in range(dim)]
    )
    weights = np.array([1 << p for p in range(planes)], dtype=np.int64)

    @pandas_udf("bigint")
    def bucket_of(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)  # rows × dim
        bits = (m @ plane_mat) > 0.0  # rows × planes
        return pd.Series(bits @ weights)

    @pandas_udf("double")
    def cosine_of(u: pd.Series, v: pd.Series) -> pd.Series:
        a = np.stack(u.to_numpy()).astype(np.float64)
        b = np.stack(v.to_numpy()).astype(np.float64)
        num = np.einsum("ij,ij->i", a, b)
        den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(den == 0.0, np.nan, num / den)
        return pd.Series(out)

    # Null embeddings can't be bucketed (np.stack would throw in the
    # executor) — drop them, matching an equi-join's null semantics.
    # Both self-join sides read the bucketed table; persist so the
    # pandas-UDF bucketing pass runs once, not once per side. (It stays
    # cached after return; see the cache rule in ``queries/__init__``.)
    bucketed = (
        df.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__vec"),
            bucket_of(F.col(vec_col)).alias("__bucket"),
        )
        .persist()
    )
    a = bucketed.select(
        F.col("__id").alias("id_a"), F.col("__vec").alias("__vec_a"), "__bucket"
    )
    b = bucketed.select(
        F.col("__id").alias("id_b"), F.col("__vec").alias("__vec_b"), "__bucket"
    )
    return (
        a.join(b, "__bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_of(F.col("__vec_a"), F.col("__vec_b")))
        # NaN (zero-norm vectors) must not pass: Spark orders NaN above
        # every number, so `cosine >= t` alone would emit those pairs.
        .filter(~F.isnan("cosine") & (F.col("cosine") >= threshold))
        .select("id_a", "id_b", "cosine")
    )


def dedup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    cliques: bool = False,
) -> DataFrame:
    """Connected components over near-dup pairs: assigns every doc the
    minimum doc id reachable through the pair graph (its canonical
    representative). The final step of a dedup pipeline — pairs from
    MinHash/SimHash/Jaccard candidates become keep/drop groups.

    Iterative min-label propagation, all DataFrame ops: each round every
    node adopts the smallest label among itself and its neighbors; stops
    when a round changes no label (driver checks a single count per
    round — no row data ever reaches the driver). Rounds needed =
    graph diameter, which for near-dup clusters (small, dense) is
    typically 2-4; ``max_iterations`` bounds pathological chains.

    Scale: each round is one join + one groupBy, both hash-partitioned
    on the node id; edges are persisted once in symmetric form. This is
    the simple variant of the large-star/small-star algorithm
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — adequate until cluster diameters grow past tens.

    ``cliques=True`` declares that every connected component of
    ``pairs`` is a clique — true by construction whenever pairs come
    from an *equality* key (exact fingerprint, identical payload hash),
    since equality is transitive. Cliques have diameter 1, so the
    closed-form round 0 (neighbor-min over the symmetric edge set) is
    already the fixpoint and the result is a single declarative plan:
    no persist, no driver-side convergence actions, one shuffle on the
    node id. Use the default iterative path for similarity-keyed
    candidates (LSH bands, winnowing overlaps), where A~B and B~C do
    not imply an A-C edge.
    """
    # Symmetrize with a single explode pass rather than a union of two
    # selects: a union would evaluate the (possibly expensive) `pairs`
    # lineage once per branch.
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
            )
        ).alias("__e")
    ).select("__e.src", "__e.dst")
    if cliques:
        return (
            sym.groupBy(F.col("src").alias("node"))
            .agg(F.min("dst").alias("__nbr0"))
            .select(
                F.col("node").alias("doc_id"),
                F.least(F.col("node"), F.col("__nbr0")).alias("component"),
            )
        )
    edges = sym.distinct().persist()
    # Round 0 without a join: with every label initialized to its own
    # node id, the first propagation's neighbor-min is just
    # MIN(dst) per src — one groupBy over the symmetric edge set. For
    # clique-shaped pair graphs (everything equality-keyed dedup
    # produces) this already converges, so the loop below runs exactly
    # one verification round instead of two full join rounds.
    labels = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("__nbr0"))
        .select(
            "node",
            F.least(F.col("node"), F.col("__nbr0")).alias("label"),
        )
        .persist()
    )
    # One action per round: counting the changed rows materializes the
    # round's full cache (caching is whole-partition), and the next
    # round's `labels` reads lazily from that same cache — no second
    # count, no second persist layer. The previous round's cache is
    # dropped only AFTER the new one is materialized, so lineage never
    # re-runs from `edges` (that would make a D-round run cost O(D^2)
    # joins instead of O(D)).
    prev = labels
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        updated = (
            labels.join(
                neighbor_min, labels["node"] == neighbor_min["src"], "left"
            )
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                (F.coalesce(F.col("nbr_label"), F.col("label")) < F.col("label"))
                .alias("changed"),
            )
            .persist()
        )
        n_changed = updated.filter(F.col("changed")).count()
        labels = updated.select("node", "label")
        prev.unpersist()
        prev = updated
        if n_changed == 0:
            break
    edges.unpersist()
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))


# ---------------------------------------------------------------------------
# Incremental MinHash-LSH index: the corpus-growth path. A production
# corpus is never re-signed from scratch — each arriving shard is
# signed and banded ALONE and appended to a persisted banding index;
# probing joins only the new shard's (band, bucket) rows against the
# accumulated ones. The symmetric counterpart of the IVF append path
# (similarity.append_ivf_index) for the near-dup family.
# ---------------------------------------------------------------------------


def write_minhash_index(
    docs: DataFrame,
    catalog,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    seed: int = 42,
    shard_id: int = 0,
    mode: str = "overwrite",
) -> None:
    """Build (or with ``mode='append'`` extend) the persisted LSH
    banding index for ``docs``: per-shard MinHash signatures,
    identical-signature collapse (the degenerate-corpus guard applies
    shard-locally — N boilerplate copies inside one shard contribute
    ONE banding row per band; identical docs in DIFFERENT shards meet
    through the banding join), then two tables in ``catalog``:

    - ``minhash_banding`` (band, bucket, rep id, shard_id),
      PARTITIONED BY band — the probe join's left side prunes to the
      band partitions it touches, and at 100 TB each band's bucket
      space is an independently-sized join key domain;
    - ``minhash_members`` (doc id, rep id, shard_id) — the expansion
      map back to doc-level matches.

    Signing cost is strictly per-shard: appending shard k re-reads
    NOTHING of shards 0..k-1 (the round-5 exact-dedup and IVF-append
    queries establish the same contract for fingerprint and vector
    spaces)."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(
        docs, id_col, text_col, num_hashes=num_hashes, n=n, seed=seed
    )
    rep_sigs, members = _collapse_identical_signatures(sigs, id_col)
    banded = _banded(rep_sigs, id_col, bands, rows_per_band)
    catalog.write(
        banded.withColumn("shard_id", F.lit(shard_id)),
        "minhash_banding",
        mode=mode,
        partition_by=["band"],
    )
    catalog.write(
        members.withColumn("shard_id", F.lit(shard_id)),
        "minhash_members",
        mode=mode,
    )


def append_minhash_index(
    new_docs: DataFrame,
    catalog,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    seed: int = 42,
    shard_id: int = 1,
) -> None:
    """Sign + band ONLY ``new_docs`` and append them to the index
    (same parameters as the base build — signatures are comparable
    only under identical hash coefficients and banding)."""
    write_minhash_index(
        new_docs, catalog, id_col, text_col, num_hashes, bands, n, seed,
        shard_id=shard_id, mode="append",
    )


def probe_minhash_index(
    spark,
    catalog,
    new_shard_id: int,
    max_bucket_df: int | None = None,
) -> DataFrame:
    """Candidate (new doc, older doc) pairs: join the new shard's
    banding rows against all PRIOR shards' rows on (band, bucket),
    then expand both sides through the membership map. Returns
    distinct (id_new, id_old). Only the banding relation is read —
    no document is re-signed; the join key space is (band, bucket),
    so a new shard of size m costs O(m·bands) join rows regardless
    of how large the accumulated index is.

    ``max_bucket_df`` extends the one-shot :func:`_banded` discipline
    to the accumulated index: the identical-signature collapse is
    shard-LOCAL, so boilerplate recurring in every shard puts one
    representative per shard in the same (band, bucket) — old_side
    membership grows linearly in shard count and the probe pair space
    quadratically. When set, (band, bucket) keys whose accumulated
    old-side membership exceeds the cap are dropped from the probe
    (both sides). Recall bound as in :func:`minhash_lsh_candidates`:
    a true pair is lost only if EVERY band it shares is hot."""
    banding = catalog.read(spark, "minhash_banding")
    members = catalog.read(spark, "minhash_members")
    new_side = banding.filter(F.col("shard_id") == new_shard_id).select(
        F.col("__id").alias("__rep_new"), "band", "bucket"
    )
    old_side = banding.filter(F.col("shard_id") < new_shard_id).select(
        F.col("__id").alias("__rep_old"), "band", "bucket"
    )
    if max_bucket_df is not None:
        old_side = _frequency_cut(old_side, ["band", "bucket"], max_bucket_df)
    rep_pairs = (
        new_side.join(old_side, ["band", "bucket"])
        .select("__rep_new", "__rep_old")
        .distinct()
    )
    m_new = members.filter(F.col("shard_id") == new_shard_id).select(
        F.col("__rep").alias("__rep_new"), F.col("__id").alias("id_new")
    )
    m_old = members.filter(F.col("shard_id") < new_shard_id).select(
        F.col("__rep").alias("__rep_old"), F.col("__id").alias("id_old")
    )
    return (
        rep_pairs.join(m_new, "__rep_new")
        .join(m_old, "__rep_old")
        .select("id_new", "id_old")
        .distinct()
    )
