"""Document deduplication family for LLM training-data pipelines
(beyond-reference surface; BASELINE.json north star).

Four tiers, each a pure DataFrame pipeline (no Python in the hot path):

- :func:`exact_dedup_groups` — hash-groupBy on normalized text. One
  shuffle on a 128-bit hash; the canonical first pass at any scale.
- :func:`ngram_jaccard_pairs` — exact set-similarity self-join on
  word 3-gram shingles. Quadratic in the worst case; the ground truth
  the approximate tiers are measured against.
- :func:`minhash_lsh_pairs` — MinHash signatures + banded LSH. The
  100 TB path: cost is O(docs × bands), candidates are only
  band-bucket collisions. Hashes are md5-derived, so the whole pipeline
  is deterministic and reproducible in any engine (no RNG seeds).
- :func:`simhash_fingerprints` / :func:`simhash_neardup_pairs` —
  60-bit SimHash with pigeonhole banding: for Hamming distance ≤ t,
  splitting the fingerprint into t+1 bands guarantees candidate recall
  1.0, so banded + verify ≡ exact quadratic (at a fraction of the cost).

Shared primitives come from ``functions.text`` (tokens, hash60,
normalize) so the DuckDB oracles mirror them symbol-for-symbol.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from pyspark import StorageLevel

from dataeng_azure_spotify_spark.functions.text import (
    hash60,
    normalize_text,
    tokens_col,
)


def _persist(df: DataFrame) -> DataFrame:
    """Pin a multiply-branched intermediate (shingle sets, signatures).

    The similarity-join DAGs branch: the same shingle table feeds the
    index build, the candidate self-join (twice — both join sides), and
    the verification pass. Unpersisted, Spark recomputes the full
    tokenize+shingle lineage per branch — the dominant cost. At 100 TB
    the equivalent is writing the shingle/signature table once (parquet,
    bucketed by doc) and joining against it; in-memory/disk persist is
    the single-job form of the same materialization.
    """
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def shingles_col(toks, n: int = 3):
    """Distinct word n-gram shingles from a token-array column (empty if
    < n tokens). ``toks`` should be a *materialized column reference* —
    passing the tokenizer expression directly re-evaluates the regex
    split per gram reference (expressions inside lambda bodies are not
    common-subexpression-eliminated), which is O(grams) tokenizations
    per document instead of one."""
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups: md5(normalized text) → representative id +
    group size. Keep-policy: lowest id is the canonical copy. NULL-text
    docs carry no content hash and are excluded (they are not duplicates
    of each other)."""
    return (
        df.select(F.col(id_col), F.md5(normalize_text(text_col)).alias("text_hash"))
        .filter(F.col("text_hash").isNotNull())
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).cast("long").alias("group_size"),
        )
    )


#: Compressed input bytes one fan-out task should own. 64 KiB ≈ 150-250
#: ms of tokenize+md5 work per task (measured r14: the featurization CPU
#: density of the dedup/curation family is ~2-4 ms per compressed KB),
#: comfortably above per-task scheduling latency; production clusters
#: with larger parallelism keep the same density because the width
#: derives from DATA, not cores.
_SPREAD_TASK_BYTES = 64 * 1024


def _spread(df: DataFrame) -> DataFrame:
    """Fan a narrow input out before a CPU-heavy per-row pass, sized by
    DATA VOLUME (guide §2.2/§2.5 — the pagerank edge-count layout
    pattern), not core count. Small corpora arrive as one parquet split —
    without this the tokenize/shingle stage runs on one core; but r13's
    unconditional ``repartition(defaultParallelism)`` shredded a 584 KB
    input into 32 near-empty round-robin partitions ahead of
    stage-latency-bound queries (the dsir_select 2.9 → 6.4 s driver
    regression).

    Width = clamp(ceil(size_estimate / _SPREAD_TASK_BYTES), 1,
    defaultParallelism), where the size estimate is the optimized plan's
    ``sizeInBytes`` (for parquet scans: the compressed file size — the
    same statistic AQE plans from). Probed via ``inputFiles()``
    (driver-side file listing — no ``.rdd`` plan conversion): a
    multi-file 100 TB table already yields ≥ parallelism splits and
    skips the shuffle entirely; a derived width of 1 also skips it (a
    one-task fan-out cannot pay for its own shuffle)."""
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file-backed plans (e.g. createDataFrame)
        n_files = 0
    if n_files >= par:
        return df
    try:
        size = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        size = -1
    if size < 0:
        # unknown size: previous behavior (full fan-out) — better too
        # wide than a single-core CPU stage
        return df.repartition(par)
    target = max(1, min(par, -(-size // _SPREAD_TASK_BYTES)))
    if target <= 1:
        return df
    return df.repartition(target)


def _doc_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    # tokenize ONCE into a concrete column; build grams off the attribute
    return (
        _spread(df)
        .select(F.col(id_col).alias("doc"), tokens_col(text_col).alias("__toks"))
        .select("doc", shingles_col(F.col("__toks"), n).alias("shingles"))
        .withColumn("n_sh", F.size("shingles"))
    )


def _prefix_len(threshold: float):
    """PPJoin prefix bound ``n_sh − ⌈t·n_sh⌉ + 1`` with the 1e-9 ceil
    backoff: float products like 0.07 × 100 = 7.000000000000001 would
    otherwise ceil to 8, shortening the indexed prefix by one and
    breaking the recall-1.0 contract for a pair whose only shared
    shingle sits at the clipped rank. The backoff can only LENGTHEN
    the prefix (ceil never lands above the exact rational value), so
    recall is preserved in every case; exactness of the backoff
    arithmetic is pinned in tests/test_llm_ops.py. THE canonical copy —
    ``cluster_index`` imports it, and the cross-implementation
    label-equality pin (tests/test_cluster_index.py) depends on both
    sides computing the identical bound."""
    return (
        F.col("n_sh")
        - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9))
        + 1
    )


def _doc_shingle_hashes(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(doc, hshingles: array<long>, n_sh) — distinct word-n-gram hashes,
    built without materializing gram strings: ``xxhash64(tok_i..tok_{i+n-1})``
    per window position, then ``array_distinct``. Drops docs with < n
    tokens (no shingles → can never pair)."""
    toks = F.col("__toks")
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    hgrams = F.transform(
        idx, lambda i: F.xxhash64(*[F.element_at(toks, i + j + 1) for j in range(n)])
    )
    return (
        _spread(df)
        .select(F.col(id_col).alias("doc"), tokens_col(text_col).alias("__toks"))
        .filter(F.size(toks) >= n)
        .select("doc", F.array_distinct(hgrams).alias("hshingles"))
        .withColumn("n_sh", F.size("hshingles"))
    )


def _verify_jaccard(
    candidates: DataFrame,
    sh: DataFrame,
    threshold: float,
    shingle_col: str = "shingles",
    broadcast_shingles: bool = False,
) -> DataFrame:
    """Exact Jaccard for candidate (doc_a, doc_b) pairs only: join each side
    to its distinct shingle set and intersect JVM-side (``array_intersect``).
    Cost is O(candidates), independent of corpus-wide shingle frequency.

    Join strategy — the shingle table is O(corpus) and must never be an
    unconditional broadcast, so neither side carries a broadcast hint:
    AQE's dynamic join selection sizes both sides from observed shuffle
    stats at runtime and elects a broadcast of the CANDIDATE side when
    near-dup pairs are sparse (the common case) — the shingle table then
    streams through both lookups. A dup-saturated corpus keeps the
    shuffled hash join on the doc id, the only shape that survives a
    corpus larger than executor memory. Doing this via AQE instead of a
    driver-side count probe costs zero extra jobs (a probe re-runs the
    whole candidate-generation stage once per call — measured 2× on the
    sf0.1 bench). ``broadcast_shingles=True`` remains the explicit
    small-corpus opt-in to broadcast the shingle table itself."""
    docs = sh.select("doc", F.col(shingle_col).alias("shingles"), "n_sh")
    if broadcast_shingles:
        docs = F.broadcast(docs)
    verified = (
        candidates.join(
            docs.select(
                F.col("doc").alias("doc_a"),
                F.col("shingles").alias("sh_a"),
                F.col("n_sh").alias("n_a"),
            ),
            "doc_a",
        )
        .join(
            docs.select(
                F.col("doc").alias("doc_b"),
                F.col("shingles").alias("sh_b"),
                F.col("n_sh").alias("n_b"),
            ),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
    )
    jac = F.col("inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("inter")
    ).cast("double")
    return (
        verified.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    broadcast_shingles: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: all pairs with J ≥ threshold.

    Prefix-filtered inverted index (the PPJoin bound): order each doc's
    shingles by global frequency (rarest first, shingle text as tiebreak)
    and index only the first ``|A| − ⌈t·|A|⌉ + 1`` — any pair with
    J ≥ t must share a prefix shingle under a common total order, so
    candidate recall is 1.0 and the exact verification keeps the result
    identical to the full quadratic scan. Indexing rare shingles first
    kills the stop-shingle freq² blow-up that makes the naive self-join
    collapse at scale; verification is O(candidates) via
    ``array_intersect``.
    """
    sh, candidates = ngram_jaccard_candidates(df, text_col, id_col, n, threshold)
    return _verify_jaccard(
        candidates, sh, threshold, shingle_col="hshingles",
        broadcast_shingles=broadcast_shingles,
    )


def ngram_jaccard_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """The PPJoin candidate stage of :func:`ngram_jaccard_pairs`, exposed
    for scale diagnostics: returns ``(shingle table, candidate pairs)``.
    Counting the candidate side against the verified result is how the
    prefix-filter's sub-quadratic growth claim is validated empirically
    (tests/test_scale_stress.py, docs/scale_validation.py).
    """
    sh, idx = _prefix_index(df, text_col, id_col, n, threshold)
    a, b = idx.alias("a"), idx.alias("b")
    candidates = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    return sh, candidates


def _prefix_index(
    df: DataFrame, text_col: str, id_col: str, n: int, threshold: float
) -> "tuple[DataFrame, DataFrame]":
    """THE shared prefix-filter machinery for the jaccard and
    containment joins (one copy of the discipline): returns the
    persisted shingle table plus the per-doc prefix inverted index —
    each doc's ``|A| − ⌈t·|A|⌉ + 1`` globally-rarest shingles under the
    (frequency asc, shingle asc) total order.

    Works on 64-bit shingle hashes, not strings: the inverted-index
    join, the prefix window, and the verification intersect all become
    integer comparisons. The hash is internal only — the prefix-filter
    recall guarantee holds for ANY global total order, and verification
    counts exact intersections — so the final pair set matches the
    string-based oracle modulo 2^-64 collisions. xxhash64 is computed
    straight from the n token strings (native, no gram-string
    allocation, no md5 hex)."""
    sh = _persist(_doc_shingle_hashes(df, text_col, id_col, n))
    ex = sh.select("doc", "n_sh", F.explode("hshingles").alias("s"))
    freq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("s_freq"))
    ranked = ex.join(freq, "s").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("doc").orderBy(F.col("s_freq").asc(), F.col("s").asc())
        ),
    )
    idx = _persist(
        ranked.filter(F.col("rk") <= _prefix_len(threshold)).select("doc", "s")
    )
    return sh, idx


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.9,
    broadcast_shingles: bool = False,
) -> DataFrame:
    """Directed exact n-gram CONTAINMENT join (r12): all ordered pairs
    ``(doc_src, doc_in)`` with ``|S(src) ∩ S(in)| / |S(src)| ≥ t`` —
    the asymmetric near-dup relation Jaccard structurally misses: a
    short document pasted inside a much longer one has tiny Jaccard
    (the union is dominated by the long side) but containment ≈ 1.0.
    This is the sub-document duplication gate a pretraining pipeline
    runs NEXT TO symmetric dedup (quote farms, boilerplate-wrapped
    reposts, scraped aggregators).

    Scale shape — the asymmetric prefix filter: only the SRC side's
    containment is bounded, so only the src side prefix-indexes (its
    ``|A| − ⌈t·|A|⌉ + 1`` globally-rarest shingles — at t = 0.9 that is
    ~10% of each doc) while the build side posts ALL its shingles.
    Recall is 1.0 under any common total order: if none of src's
    prefix shingles lands in ``in``, the intersection is at most
    ``⌈t·|A|⌉ − 1 < t·|A|``. Ranking rarest-first keeps the candidate
    count Σ_{s ∈ prefixes} freq(s) — stop-shingles almost never make a
    10% prefix — and verification is O(candidates) exact
    ``array_intersect``, same AQE join-strategy notes as
    :func:`ngram_jaccard_pairs`. Never all-pairs."""
    sh, candidates = ngram_containment_candidates(
        df, text_col, id_col, n, threshold
    )
    return _verify_containment(
        candidates, sh, threshold, broadcast_shingles=broadcast_shingles
    )


def _verify_containment(
    candidates: DataFrame,
    sh: DataFrame,
    threshold: float,
    broadcast_shingles: bool = False,
) -> DataFrame:
    """Exact containment for candidate ``(doc_src, doc_in)`` pairs only
    — the directed twin of :func:`_verify_jaccard` (same
    ``array_intersect`` shape and AQE join-strategy rationale; the
    denominator is the SRC side's shingle count, not the union)."""
    docs = sh.select("doc", F.col("hshingles").alias("shingles"), "n_sh")
    if broadcast_shingles:
        docs = F.broadcast(docs)
    verified = (
        candidates.join(
            docs.select(
                F.col("doc").alias("doc_src"),
                F.col("shingles").alias("sh_s"),
                F.col("n_sh").alias("n_src"),
            ),
            "doc_src",
        )
        .join(
            docs.select(
                F.col("doc").alias("doc_in"),
                F.col("shingles").alias("sh_i"),
            ),
            "doc_in",
        )
        .withColumn("inter", F.size(F.array_intersect("sh_s", "sh_i")))
    )
    cont = F.col("inter").cast("double") / F.col("n_src").cast("double")
    return (
        verified.withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select("doc_src", "doc_in", "containment")
    )


def ngram_containment_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.9,
) -> tuple[DataFrame, DataFrame]:
    """The asymmetric-prefix candidate stage of
    :func:`ngram_containment_pairs`, exposed for scale diagnostics
    (the :func:`ngram_jaccard_candidates` pattern): returns
    ``(shingle table, directed candidate pairs)``. Only the SRC side
    prefix-indexes (its containment is the bounded one); the build
    side posts every shingle (re-exploded from the persisted shingle
    table — cheap lineage, no second corpus scan)."""
    sh, probe = _prefix_index(df, text_col, id_col, n, threshold)
    build = sh.select("doc", F.explode("hshingles").alias("s"))
    a, b = probe.alias("a"), build.alias("b")
    candidates = (
        a.join(
            b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") != F.col("b.doc"))
        )
        .select(
            F.col("a.doc").alias("doc_src"), F.col("b.doc").alias("doc_in")
        )
        .distinct()
    )
    return sh, candidates


#: Mersenne modulus for the affine MinHash family h_i(x) = (a_i·x + b_i) mod p.
MINHASH_P = (1 << 61) - 1
#: Horner multiplier composing a shingle hash from its token hashes.
SHINGLE_C = 1048573


def _mulmod_p61(a: int, x):
    """``(a·x) mod (2^61−1)`` in pure 64-bit long arithmetic (no decimal).

    Valid for ``a < 2^30`` and ``0 ≤ x < 2^61``. Split x into 31+30-bit
    limbs; because ``2^61 ≡ 1 (mod p)`` the high partial folds back with
    shifts, every intermediate stays under 2^63, and the result equals
    the wide-integer ``(a·x) % p`` bit-for-bit — which is what the
    DuckDB oracles compute in HUGEINT. The long form evaluates ~4×
    faster than DECIMAL(38,0) inside interpreted higher-order lambdas
    (measured on the signature build at sf0.1).
    """
    assert 0 < a < (1 << 30)
    xh = F.shiftright(x, 31)                       # < 2^30
    xl = x.bitwiseAND(F.lit((1 << 31) - 1))        # < 2^31
    w = F.lit(a) * xh                              # < 2^60
    wh = F.shiftright(w, 30)                       # < 2^30
    wl = w.bitwiseAND(F.lit((1 << 30) - 1))        # < 2^30
    # a·x = w·2^31 + a·xl ≡ wh + wl·2^31 + a·xl (mod p); sum < 2^63
    return F.pmod(wh + F.shiftleft(wl, 31) + F.lit(a) * xl, F.lit(MINHASH_P))


def _np_mulmod_p61(a: int, x):
    """numpy-uint64 mirror of :func:`_mulmod_p61` — identical limb split,
    identical bounds, bit-equal results. ``x`` is a uint64 ndarray (any
    shape); ``a`` may also be a uint64 column vector for broadcasting."""
    u = np.uint64
    xh = x >> u(31)
    xl = x & u((1 << 31) - 1)
    w = a * xh  # a < 2^30, xh < 2^30 → < 2^60
    wh = w >> u(30)
    wl = w & u((1 << 30) - 1)
    return (wh + (wl << u(31)) + a * xl) % u(MINHASH_P)


def _np_horner_shingles(ht, n: int):
    """Distinct Horner-composed shingle hashes of one doc's token-hash
    array — vectorized over gram positions, first-occurrence order
    (matches ``array_distinct`` over the expression form)."""
    u = np.uint64
    m = len(ht) - n + 1
    acc = ht[:m].copy()
    for j in range(1, n):
        acc = (_np_mulmod_p61(u(SHINGLE_C), acc) + ht[j : m + j]) % u(MINHASH_P)
    return pd.unique(acc)


def _doc_shingle_hashes60(
    df: DataFrame, text_col: str, id_col: str, n: int, impl: str = "arrow"
) -> DataFrame:
    """(doc, hshingles: array<long>, n_sh) — md5-DERIVED shingle hashes
    the DuckDB oracle can mirror: hash60 each token ONCE, then compose a
    gram hash by Horner's rule mod p (``((h1·C + h2) mod p · C + h3) mod
    p``). No gram strings are ever built, and the heavy md5 count is one
    per token instead of one per (gram × hash-family) as in salted
    MinHash.

    Two value-identical physical paths for the Horner composition:

    - ``impl='arrow'`` (default): an Arrow-batched pandas UDF running the
      same limb arithmetic in numpy uint64. Higher-order ``transform``
      lambdas are evaluated INTERPRETED in Spark (they never enter
      whole-stage codegen), so at sf0.1 the expression form spent ~1s of
      pure expression-tree walking; the vectorized batch form is the
      sanctioned Pandas-UDF use — built-ins can't express this fast.
    - ``impl='expr'``: pure Catalyst expressions through
      :func:`_mulmod_p61` — zero Python dependency in the plan; kept as
      the reference semantics and for environments with Arrow disabled.

    ``tests/test_dedup.py`` pins bit-equality of the two paths; the md5
    token hashing stays JVM-side in both."""
    ht = F.col("__ht")
    base = (
        _spread(df)
        .select(F.col(id_col).alias("doc"), tokens_col(text_col).alias("__toks"))
        .select("doc", F.transform("__toks", lambda t: hash60(t)).alias("__ht"))
        .filter(F.size(ht) >= n)
    )
    if impl == "arrow":

        @F.pandas_udf(ArrayType(LongType()))
        def horner(ser: pd.Series) -> pd.Series:
            return ser.map(
                lambda toks: _np_horner_shingles(
                    np.asarray(toks, dtype=np.uint64), n
                ).astype(np.int64)
            )

        shingles = base.select("doc", horner("__ht").alias("hshingles"))
    else:

        def compose(i):
            # first Horner term is a raw 60-bit token hash (< 2^60 < p)
            acc = F.element_at(ht, i)
            for j in range(1, n):
                # C·acc mod p < 2^61 plus a 60-bit token hash stays
                # < 2^62: one pmod per step, no overflow
                acc = F.pmod(
                    _mulmod_p61(SHINGLE_C, acc) + F.element_at(ht, i + j),
                    F.lit(MINHASH_P),
                )
            return acc

        idx = F.sequence(F.lit(1), F.size(ht) - n + 1)
        grams = F.transform(idx, compose)
        shingles = base.select("doc", F.array_distinct(grams).alias("hshingles"))
    return shingles.withColumn("n_sh", F.size("hshingles"))


def minhash_family(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) coefficients — Knuth-multiplier derived,
    a_i odd and < 2^30 (the :func:`_mulmod_p61` limb bound; also keeps
    the oracle's HUGEINT product narrow). Both engines inline the same
    literals."""
    return [
        (((2654435761 * (i + 1)) % (1 << 30)) | 1, 1000003 * (i + 1) + 12345)
        for i in range(num_hashes)
    ]


def _affine_hash(x, a: int, b: int):
    """(a·x + b) mod p — long-limb Mersenne fold, value-identical to the
    wide-integer form (the oracle's HUGEINT ``(a·x + b) % p``)."""
    # a·x mod p < 2^61, b < 2^31 → sum < 2^62: one final pmod suffices
    return F.pmod(_mulmod_p61(a, x) + F.lit(b), F.lit(MINHASH_P))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    n: int = 3,
    impl: str = "arrow",
) -> DataFrame:
    """Per-doc MinHash signature: minhash_i = min over shingle hashes of
    ``(a_i·x + b_i) mod p`` — ONE md5 per token (Horner-composed
    shingle hashes), the family derived arithmetically. Long format
    (doc, i, minhash); zero-shingle docs drop out.
    """
    sh = _doc_shingle_hashes60(df, text_col, id_col, n, impl=impl)
    wide = _minhash_wide(sh, num_hashes, impl=impl)
    stack = ", ".join(f"{i}, mh{i}" for i in range(num_hashes))
    return wide.selectExpr(
        "doc", f"stack({num_hashes}, {stack}) AS (i, minhash)"
    )


def _minhash_wide(sh: DataFrame, num_hashes: int, impl: str = "arrow") -> DataFrame:
    """(doc, mh0..mh{k-1}) — no explode, no shuffle.

    ``impl='arrow'`` (default): one Arrow-batched pandas UDF computes all
    k affine mins per doc as a single (k × n_shingles) numpy uint64
    broadcast — the k ``array_min(transform(...))`` expressions of the
    ``'expr'`` path are each interpreted per-element (HOFs never enter
    codegen), which made the signature build the dominant cost of
    :func:`minhash_lsh_pairs` at sf0.1. Value-identical (pinned in
    tests/test_dedup.py); unpacking to mh columns is JVM ``element_at``.
    """
    if impl == "arrow":
        fam = minhash_family(num_hashes)
        A = np.asarray([a for a, _ in fam], dtype=np.uint64)[:, None]
        B = np.asarray([b for _, b in fam], dtype=np.uint64)[:, None]

        @F.pandas_udf(ArrayType(LongType()))
        def sig(ser: pd.Series) -> pd.Series:
            u = np.uint64

            def one(shingles):
                s = np.asarray(shingles, dtype=np.uint64)[None, :]
                v = (_np_mulmod_p61(A, s) + B) % u(MINHASH_P)  # (k, m)
                return v.min(axis=1).astype(np.int64)

            return ser.map(one)

        wide = sh.select("doc", sig("hshingles").alias("__mh"))
        return wide.select(
            "doc",
            *[
                F.element_at("__mh", i + 1).alias(f"mh{i}")
                for i in range(num_hashes)
            ],
        )

    def mk(a: int, b: int):
        # close over (a, b): defaulted lambda params would change the
        # arity Spark infers for the higher-order function
        return lambda x: _affine_hash(x, a, b)

    mins = [
        F.array_min(F.transform("hshingles", mk(a, b))).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_family(num_hashes))
    ]
    return sh.select("doc", *mins)


def _band_table(wide: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc, band, band_sig) from a wide signature table — per-row
    expressions only, no shuffle. band_sig is a STRUCT of the band's
    minhash longs (struct equality joins on raw longs)."""
    if num_hashes % bands != 0:
        # a remainder would silently drop minhashes from every band key,
        # giving the recall of a smaller scheme than the caller asked for
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    rows_per_band = num_hashes // bands
    band_cols = [
        F.struct(
            F.lit(j).alias("band"),
            F.struct(
                *[
                    F.col(f"mh{i}").alias(f"s{i - j * rows_per_band}")
                    for i in range(j * rows_per_band, (j + 1) * rows_per_band)
                ]
            ).alias("band_sig"),
        )
        for j in range(bands)
    ]
    return wide.select(
        "doc", F.explode(F.array(*band_cols)).alias("bv")
    ).select(
        "doc",
        F.col("bv.band").alias("band"),
        F.col("bv.band_sig").alias("band_sig"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    broadcast_shingles: bool = False,
    impl: str = "arrow",
) -> DataFrame:
    """MinHash + banded LSH near-dup join, verified with exact Jaccard.
    ``impl="expr"`` selects the pure-Catalyst Horner path (for clusters
    with Arrow/pandas-UDF execution unavailable); value-identical to the
    default arrow path (bit-pinned in tests).

    ``num_hashes/bands`` rows per band (16/8 → r=2): a pair lands in a
    candidate bucket iff one band's signature rows all match. Candidates
    are then verified with the true n-gram Jaccard, so precision is
    exact; recall is the LSH probability 1−(1−J^r)^b — and because every
    hash is md5-derived (one digest per shingle, family by affine
    arithmetic), the candidate set and result are fully deterministic.

    Physical shape: signatures and band keys are per-row expressions over
    the shingle-hash array — no explode, no shuffle until the tiny
    (band, band_signature) bucket self-join; never a quadratic blow-up.
    The band signature is a STRUCT of the band's minhash longs (struct
    equality joins on raw longs — no per-row string formatting; the
    oracle's string band keys group identically, so the candidate set is
    unchanged).
    """
    sh, candidates = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes, bands, n, impl=impl
    )
    # verify ONLY the LSH candidates (O(candidates) via array_intersect) —
    # never the full quadratic pair space
    return _verify_jaccard(
        candidates, sh, threshold, shingle_col="hshingles",
        broadcast_shingles=broadcast_shingles,
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    n: int = 3,
    impl: str = "arrow",
) -> tuple[DataFrame, DataFrame]:
    """The banded-LSH candidate stage of :func:`minhash_lsh_pairs`,
    exposed for scale diagnostics: ``(shingle table, candidate pairs)``.
    Candidate growth vs verified-pair growth is the empirical check that
    band collisions stay ~linear in true near-dup mass
    (tests/test_scale_stress.py, docs/scale_validation.py)."""
    sh = _persist(_doc_shingle_hashes60(df, text_col, id_col, n, impl=impl))
    wide = _minhash_wide(sh, num_hashes, impl=impl)
    band_sigs = _persist(_band_table(wide, num_hashes, bands))
    a, b = band_sigs.alias("a"), band_sigs.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    return sh, candidates


SIMHASH_BITS = 60


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """60-bit SimHash per document from token hashes.

    Classic construction: each token votes its hash bits (+1 for a set
    bit, −1 for unset); fingerprint bit j is 1 iff the net vote is
    positive (strictly more set than unset). One aggregation pass — a
    single shuffle on the doc id, fully partial-aggregation friendly
    (map-side combine leaves only small per-doc partials on the wire).

    The 60 bit-counters pack two per aggregate: counter j accumulates
    bit j in the low half and bit j+30 shifted to bit 32 — each half has
    32 bits of headroom, so the packing is exact for any document under
    2^32 tokens (~16 GB of text; not a real constraint). Half the
    aggregate buffers/update calls of the naive 60-sum form, same
    whole-stage-codegen shape. Measured alternatives that LOST: 60
    separate sums (this form's predecessor, ~25% slower), a per-row
    ``F.aggregate`` array fold (3-4× slower, interpreted), and an Arrow
    ``mapInPandas`` bit-vote (loses to hash-array serialization).
    """
    half = SIMHASH_BITS // 2  # 30 packed counters
    toks = _spread(df).select(
        F.col(id_col).alias("doc"), F.explode(tokens_col(text_col)).alias("t")
    )
    hashed = toks.withColumn("h", hash60(F.col("t")))
    h = F.col("h")
    bit_sums = hashed.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.shiftright(h, j).bitwiseAND(F.lit(1))
                + F.shiftleft(
                    F.shiftright(h, j + half).bitwiseAND(F.lit(1)), 32
                )
            ).alias(f"c{j}")
            for j in range(half)
        ],
    )
    lo_mask = F.lit((1 << 32) - 1)
    fp = None
    for j in range(half):
        lo = F.col(f"c{j}").bitwiseAND(lo_mask)
        hi = F.shiftright(F.col(f"c{j}"), 32)
        term = F.when(F.lit(2) * lo > F.col("n"), F.lit(1 << j)).otherwise(F.lit(0)) + (
            F.when(F.lit(2) * hi > F.col("n"), F.lit(1 << (j + half))).otherwise(F.lit(0))
        )
        fp = term if fp is None else fp + term
    return bit_sums.select("doc", fp.cast("long").alias("simhash"))


def simhash_bands(fps: DataFrame, max_hamming: int) -> DataFrame:
    """Pigeonhole band table over ``(doc, simhash)`` fingerprints —
    ``max_hamming + 1`` bands per doc, so any pair within the Hamming
    budget shares ≥ 1 ``(band, band_val)`` bucket. Exposed for scale
    diagnostics: the raw band-bucket candidate volume (the self-join's
    input mass, before the in-join Hamming filter) is what
    docs/scale_validation.py tracks across corpus scales."""
    n_bands = max_hamming + 1
    band_bits = SIMHASH_BITS // n_bands + (1 if SIMHASH_BITS % n_bands else 0)
    return fps.select(
        "doc",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("simhash"), i * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("band_val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bv"),
    ).select(
        "doc",
        "simhash",
        F.col("bv.band").alias("band"),
        F.col("bv.band_val").alias("band_val"),
    )


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ ``max_hamming``.

    Pigeonhole banding: the 60-bit fingerprint splits into
    ``max_hamming+1`` bands; any pair within distance ≤ max_hamming must
    agree exactly on ≥ 1 band, so the banded candidate set has recall 1.0
    and the post-verification result is *identical* to the quadratic
    all-pairs scan — which is what the DuckDB oracle runs.
    """
    # the band table feeds both sides of the self-join — pin it so the
    # 60-bit-vote aggregation isn't computed twice
    fps = _persist(simhash_fingerprints(df, text_col, id_col))
    bands = simhash_bands(fps, max_hamming)
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    # the Hamming check rides INSIDE the join stage, before the dedup
    # shuffle: on a near-dup-heavy corpus the band buckets emit ~75×
    # more candidate rows than true pairs, and distinct-ing the raw
    # candidates was the dominant shuffle of the whole pipeline. The
    # bit_count filter is codegen'd and costs nothing per row.
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc") < F.col("b.doc"))
            & (ham <= max_hamming),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            ham.cast("long").alias("hamming"),
        )
        .distinct()
    )


class IncrementalDedup:
    """Cross-run exact dedup: admit only documents whose normalized-text
    hash has never been seen in ANY previous run — the shape a
    continuously-ingesting corpus needs (each crawl batch dedups against
    the historical corpus, not just itself).

    State = a parquet directory of seen hashes (8-byte md5-derived keys,
    ~16 bytes/doc on disk): at 100 TB of corpus that is a few GB of
    state, joined as an integer equi-join (AQE may elect broadcast while
    small). ``admit`` is idempotent per batch content: re-admitting the
    same rows yields zero new admissions, so replays under exactly-once
    sinks are safe. Within a batch, duplicate groups keep the lowest id
    (same policy as :func:`exact_dedup_groups`).
    """

    def __init__(self, spark, state_dir: str) -> None:
        from dataeng_azure_spotify_spark.statefs import statefs_for

        self.spark = spark
        self.state_dir = state_dir
        self.fs = statefs_for(state_dir, spark)
        self.fs.makedirs(state_dir)

    def _seen(self) -> DataFrame:
        if not any(f.endswith(".parquet") for f in self.fs.listdir(self.state_dir)):
            return self.spark.createDataFrame([], "text_hash string, run_id string")
        df = self.spark.read.option("mergeSchema", "true").parquet(self.state_dir)
        if "run_id" not in df.columns:  # state written before run tracking
            df = df.withColumn("run_id", F.lit(None).cast("string"))
        return df

    def admit(
        self,
        batch: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        run_id: str | None = None,
    ) -> DataFrame:
        """Return the admitted slice of ``batch`` and record its hashes.

        Two passes over the (small) batch, one join against state:
        in-batch dedup keeps the lowest id per hash, then hashes already
        in the historical state are dropped.

        ``run_id`` makes admission exactly-once for streaming replays:
        each state row records the run that admitted it, and a replayed
        batch RE-returns the rows this same ``run_id`` admitted before
        the crash (without re-appending state). An epoch-keyed
        idempotent sink (see :func:`...streaming.admission.
        run_admission_stream`) can then overwrite its output partition
        with an identical result instead of an empty one — without this,
        a crash between the state append and the sink commit would mark
        documents seen yet never deliver them.
        """
        hashed = batch.withColumn(
            "__h", F.md5(normalize_text(text_col))
        )
        # NULL text has no content hash: such docs are not duplicates of
        # each other, can't be tracked in hash state, and must not be
        # collapsed by the NULL window partition below — admit them
        # untracked (the IncrementalLsh shingle-less discipline)
        null_text = hashed.filter(F.col("__h").isNull())
        hashed = hashed.filter(F.col("__h").isNotNull())
        w = Window.partitionBy("__h").orderBy(id_col)
        in_batch = (
            hashed.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        seen = self._seen().select(
            F.col("text_hash").alias("__h"),
            F.lit(True).alias("__seen"),
            F.col("run_id").alias("__seen_run"),
        )
        joined = in_batch.join(seen, "__h", "left")
        fresh_pred = F.col("__seen").isNull()
        if run_id is not None:
            keep = fresh_pred | (F.col("__seen_run") == F.lit(run_id))
        else:
            keep = fresh_pred
        # Materialize admissions BEFORE appending state, so the returned
        # DataFrame doesn't re-plan against the grown state on a later
        # action. localCheckpoint = executor-side, no driver collect.
        admitted = (
            joined.filter(keep)
            .withColumn("__fresh", fresh_pred)
            .drop("__seen", "__seen_run")
            # __fresh=False: pass through every time, never into state
            .unionByName(null_text.withColumn("__fresh", F.lit(False)))
            .localCheckpoint(eager=True)
        )
        admitted.filter(F.col("__fresh")).select(
            F.col("__h").alias("text_hash"),
            F.lit(run_id).cast("string").alias("run_id"),
        ).write.mode("append").parquet(self.state_dir)
        return admitted.drop("__h", "__fresh")


class IncrementalLsh:
    """Cross-run NEAR-dup admission: each new batch is checked against
    the historical corpus with MinHash + banded LSH before admission —
    the incremental twin of :func:`minhash_lsh_pairs`, for continuously
    ingesting pipelines where re-running corpus-wide LSH per batch is
    not an option.

    State = a parquet table of wide MinHash signatures, ``8·num_hashes``
    bytes per admitted doc (~128 B/doc at the default 16 hashes —
    gigabytes, not terabytes, at 100 TB of corpus). Per batch:

    1. signatures + band keys for the batch (per-row expressions);
    2. candidates = batch bands ⋈ state bands on (band, band_sig) plus
       the in-batch band self-join;
    3. similarity estimate = fraction of matching minhashes over the
       full signature (the standard unbiased MinHash Jaccard estimator
       — exact text never needs to be stored or re-read);
    4. docs whose estimate ≥ ``threshold`` against history, or against
       ANY smaller-id doc in the same batch, are rejected (greedy
       lowest-id anchoring: when A is itself rejected against history
       and B is near-dup only of A, B is rejected too — near-dup chains
       collapse toward the one historical representative rather than
       re-admitting a fresh member per batch); survivors append their
       signatures to state.

    Deterministic end-to-end (md5-derived hashing, no RNG) and
    idempotent: re-admitting a batch admits nothing. Idempotency covers
    shingle-less docs (< n tokens) too — they admit with a NULL-signature
    state row (id-tracked, similarity-inert), so a replayed micro-batch
    under exactly-once retries is a full no-op.
    """

    def __init__(
        self,
        spark,
        state_dir: str,
        num_hashes: int = 16,
        bands: int = 8,
        n: int = 3,
        threshold: float = 0.5,
    ) -> None:
        self.spark = spark
        self.state_dir = state_dir
        self.num_hashes = num_hashes
        self.bands = bands
        self.n = n
        self.threshold = threshold
        from dataeng_azure_spotify_spark.statefs import statefs_for

        self.fs = statefs_for(state_dir, spark)
        self.fs.makedirs(state_dir)

    def _sig_schema(self) -> str:
        cols = ", ".join(f"mh{i} long" for i in range(self.num_hashes))
        return f"doc long, {cols}, run_id string"

    def _state(self) -> DataFrame:
        if not any(f.endswith(".parquet") for f in self.fs.listdir(self.state_dir)):
            return self.spark.createDataFrame([], self._sig_schema())
        df = self.spark.read.option("mergeSchema", "true").parquet(self.state_dir)
        if "run_id" not in df.columns:  # state written before run tracking
            df = df.withColumn("run_id", F.lit(None).cast("string"))
        return df

    def admit(
        self,
        batch: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        run_id: str | None = None,
    ) -> DataFrame:
        """Admit the near-dup-free slice of ``batch``; update state.

        ``run_id``: exactly-once replay support — state rows record the
        admitting run, and a replayed batch re-returns the rows this
        same ``run_id`` admitted (no state re-append), so an epoch-keyed
        overwrite sink reproduces its output instead of losing it. See
        :meth:`IncrementalDedup.admit`.
        """
        state0 = self._state()
        if run_id is not None:
            replayed = batch.join(
                state0.filter(F.col("run_id") == F.lit(run_id)).select(
                    F.col("doc").alias(id_col)
                ),
                id_col,
                "left_semi",
            )
        # replay guard: ids already in state (signatures AND the
        # NULL-signature rows of shingle-less admits) drop outright, so
        # re-running a committed micro-batch admits nothing new
        batch = batch.join(
            state0.select(F.col("doc").alias(id_col)),
            id_col,
            "left_anti",
        )
        sh = _doc_shingle_hashes60(batch, text_col, id_col, self.n)
        wide = _minhash_wide(sh, self.num_hashes).localCheckpoint(eager=True)
        new_bands = _band_table(wide, self.num_hashes, self.bands)
        old = state0.drop("run_id")
        old_bands = _band_table(old, self.num_hashes, self.bands)

        # candidate pairs: vs history (any), vs in-batch (smaller id wins)
        vs_old = (
            new_bands.alias("nb")
            .join(
                old_bands.alias("ob"),
                (F.col("nb.band") == F.col("ob.band"))
                & (F.col("nb.band_sig") == F.col("ob.band_sig")),
            )
            .select(F.col("nb.doc").alias("cand"), F.col("ob.doc").alias("other"))
        )
        vs_new = (
            new_bands.alias("a")
            .join(
                new_bands.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_sig") == F.col("b.band_sig"))
                & (F.col("a.doc") > F.col("b.doc")),
            )
            .select(F.col("a.doc").alias("cand"), F.col("b.doc").alias("other"))
        )
        cands = vs_old.unionByName(vs_new).distinct()

        # estimate Jaccard from full signatures for every candidate pair
        both = wide.unionByName(old)
        matches = sum(
            F.when(F.col(f"l.mh{i}") == F.col(f"r.mh{i}"), 1).otherwise(0)
            for i in range(self.num_hashes)
        )
        est = (
            cands.join(wide.alias("l"), cands["cand"] == F.col("l.doc"))
            .join(both.alias("r"), cands["other"] == F.col("r.doc"))
            .select(
                "cand",
                (matches / F.lit(float(self.num_hashes))).alias("est_j"),
            )
        )
        rejected = (
            est.filter(F.col("est_j") >= self.threshold)
            .select(F.col("cand").alias("doc"))
            .distinct()
        )
        admitted_sigs = wide.join(rejected, "doc", "left_anti")
        # documents too short to shingle (< n tokens) carry no near-dup
        # evidence and must admit (minhash_lsh_pairs' semantics) — but
        # they are still id-tracked via NULL-signature rows so a replay
        # is a no-op. NULL sigs are similarity-inert: band structs with
        # nulls never equi-join and mh comparisons count 0 matches.
        shingleless = (
            batch.select(F.col(id_col).alias("doc"))
            .join(wide.select("doc"), "doc", "left_anti")
            .select(
                "doc",
                *[
                    F.lit(None).cast("long").alias(f"mh{i}")
                    for i in range(self.num_hashes)
                ],
            )
        )
        state_rows = (
            admitted_sigs.unionByName(shingleless)
            .withColumn("run_id", F.lit(run_id).cast("string"))
            .localCheckpoint(eager=True)
        )
        state_rows.write.mode("append").parquet(self.state_dir)
        out = batch.join(
            rejected.withColumnRenamed("doc", id_col), id_col, "left_anti"
        )
        if run_id is not None:
            out = out.unionByName(replayed)
        return out
