"""Similarity search over embedding columns (``array<float>``) —
beyond-reference surface (BASELINE.json north star).

- :func:`cosine_topk` — exact brute-force top-k: the correctness
  baseline. Dot products are accumulated in DECIMAL (each
  float32·float32 product is exact in double, and decimal addition is
  order-independent), so Spark and DuckDB produce bit-identical cosines
  and identical rankings — no tolerance needed in the oracle.
- :func:`ivf_assign` / :func:`ivf_topk` — IVF-style partitioned ANN:
  vectors are bucketed by nearest centroid; a query probes only the
  ``nprobe`` nearest buckets. At 100 TB the bucket id becomes the
  partition key, so a probe scans ``nprobe/num_centroids`` of the data.
  The centroid set is FIXED-SIZE (``num_centroids``, default 64)
  regardless of corpus size: a deterministic hash-ordered sample refined
  by k-means iterations in DataFrame algebra (:func:`kmeans_centroids`),
  so the centroid broadcast in :func:`ivf_assign` stays O(k) at any n.
- :func:`cosine_neardup_pairs` — exact threshold self-join via
  distributed blocked GEMM: no driver-side ``collect()``, no
  corpus-wide broadcast; peak task memory is two hash-blocks of rows.

Physical shape: the small side (queries / centroids) broadcasts and the
dot product is a single JVM higher-order expression
(``zip_with`` + ``aggregate``) evaluated per (query, vector) row of a
broadcast nested-loop join — NO posexplode, NO shuffle for the scoring
pass (the only shuffle is the final per-query top-k window). The
decimal fold uses DECIMAL(30,20): addition widens to (31,20) ≤ 38 so no
precision-loss rounding occurs and the fold is bit-equal to a
``SUM(DECIMAL(38,20))`` group-by, which is what the DuckDB oracle runs.
For very wide vectors a Pandas-UDF BLAS path can replace the
expression; at 64-d it whole-stage-codegens and is compute-bound.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataeng_azure_spotify_spark.statefs import validate_run_id

from .compaction import (
    CompactionLog,
    PartitionedTable,
    check_format_version,
    fold_runs,
    id_set,
    live_run_count,
    maybe_autocompact,
    read_registry,
    reject_compact_namespace,
    retract_ids,
    validate_compact_tag,
)

# scale 20 matches the oracle's DECIMAL(38,20) products; precision 30
# leaves integer headroom so per-step additions never trigger Spark's
# precision-loss scale reduction (30,20)+(30,20) -> (31,20) -> exact
DOT_DECIMAL = "decimal(30,20)"


def _dot(a, b) -> Column:
    """Exact decimal-accumulated dot product of two float vectors."""
    prods = F.zip_with(
        a, b, lambda x, y: (x.cast("double") * y.cast("double")).cast(DOT_DECIMAL)
    )
    return F.aggregate(
        prods, F.lit(0).cast(DOT_DECIMAL), lambda acc, x: (acc + x).cast(DOT_DECIMAL)
    ).cast("double")


def _dot_double(a, b) -> Column:
    """Double-precision dot product — ~4× cheaper than the decimal fold.
    For approximate paths (IVF assignment/probing) where last-ulp
    cross-engine reproducibility is not part of the contract."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm(vec) -> Column:
    """L2 norm, decimal-accumulated for cross-engine determinism."""
    sq = F.transform(
        vec, lambda x: (x.cast("double") * x.cast("double")).cast(DOT_DECIMAL)
    )
    return F.sqrt(
        F.aggregate(
            sq, F.lit(0).cast(DOT_DECIMAL), lambda acc, x: (acc + x).cast(DOT_DECIMAL)
        ).cast("double")
    )


def _with_norm(df: DataFrame, id_col: str, vec_col: str, prefix: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias(f"{prefix}_id"),
        F.col(vec_col).alias(f"{prefix}_vec"),
        _norm(F.col(vec_col)).alias(f"{prefix}_norm"),
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    exact: bool = True,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Output: (query_id, rank, neighbor_id, cosine). Self-matches excluded
    by id when ``exclude_self`` (the neighbor-search default); pass
    ``False`` when query and corpus ids live in DIFFERENT namespaces —
    e.g. IVF probe routing, where a query whose id happens to equal a
    centroid id must still probe that centroid's bucket.
    Ties break by neighbor_id ascending (total order → deterministic).

    Physical shape (r13): the corpus pass is ONE Arrow-batched
    ``mapInPandas`` GEMM over ``(id, vec)`` only — each batch emits the
    per-query candidates whose float64 cosine is within ``1e-6`` of the
    batch's k-th best (a provable superset of the exact top-k: float64
    GEMM error is ≤ ~1e-13 for 64-d unit-scale vectors and the decimal
    ranking's own rounding granularity is 1e-12, both orders of
    magnitude inside the margin). Only the surviving candidates —
    O(queries × k × batches) rows, corpus-size-independent per batch —
    pay the exact DECIMAL fold and the rank window, so the result is
    bit-identical to the previous full decimal nested-loop at a small
    fraction of its cost (the decimal fold is an interpreted
    higher-order expression; the GEMM is BLAS). Rows the float pass
    cannot certify (null/odd-width/non-finite vectors, zero norms, and
    whole batches when numpy is unavailable) are passed through as
    unconditional candidates — the decimal phase, which is the old
    scoring expression verbatim, remains the single source of truth.

    The query side is collected to the driver (same bound as the
    ``F.broadcast`` the previous shape used — the interactive-search
    contract |queries| << |corpus| unchanged).

    ``exact=False`` swaps the decimal fold for double arithmetic —
    used by internal approximate stages (IVF probes) where cross-engine
    bit-reproducibility isn't part of the contract; that path keeps the
    one-pass broadcast nested-loop (its corpus side — e.g. a centroid
    table — is small).
    """
    integral = {"tinyint", "smallint", "int", "bigint"}
    if not exact or (
        dict(corpus.dtypes)[id_col] not in integral
        or dict(queries.dtypes)[id_col] not in integral
    ):
        # exact=False (small corpus side, e.g. centroid routing) and
        # non-integral-id corpora keep the one-pass broadcast
        # nested-loop; the GEMM prefilter needs numpy-representable ids
        dot = _dot if exact else _dot_double
        qf = _with_norm(queries, id_col, vec_col, "q")
        cf = _with_norm(corpus, id_col, vec_col, "c")
        scored = F.broadcast(qf).crossJoin(cf)
        if exclude_self:
            scored = scored.filter(F.col("q_id") != F.col("c_id"))
        scored = scored.withColumn("dot", dot(F.col("q_vec"), F.col("c_vec")))
        return _rank_topk(scored, k)
    cand = _topk_candidates_gemm(queries, corpus, id_col, vec_col, k)
    qf = _with_norm(queries, id_col, vec_col, "q")
    scored = (
        cand.join(
            corpus.select(
                F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
            ),
            "c_id",
        )
        .join(F.broadcast(qf), "q_id")
        .withColumn("c_norm", _norm(F.col("c_vec")))
    )
    if exclude_self:
        scored = scored.filter(F.col("q_id") != F.col("c_id"))
    scored = scored.withColumn("dot", _dot(F.col("q_vec"), F.col("c_vec")))
    return _rank_topk(scored, k)


#: candidate margin for the float64 prefilter — see cosine_topk: true
#: error sources are ≤ ~1e-12 (GEMM float error + the decimal ranking's
#: 12-dp rounding granularity); 1e-6 leaves six orders of headroom and
#: still admits only near-ties.
_GEMM_MARGIN = 1e-6


def _topk_candidates_gemm(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """(q_id, c_id) candidate pairs — a provable superset of the exact
    cosine top-k (see :func:`cosine_topk`). One Arrow pass over the
    corpus' ``(id, vec)`` columns; per batch, per query, keeps rows
    within ``_GEMM_MARGIN`` of the batch's (k+1)-th best float64 cosine
    (+1 pads for a possible self-match) plus every row float64 cannot
    certify (non-finite cosine, null/odd-width vectors)."""
    import numpy as np
    import pandas as pd

    # the same driver bound as the F.broadcast(qf) the one-pass shape
    # used — broadcast also collects to the driver:
    qrows = queries.select(id_col, vec_col).collect()  # O(queries)
    good_q, weird_q = [], []
    dim = None
    for r in qrows:
        v = r[1]
        if v is not None and dim is None:
            dim = len(v)
        if v is None or (dim is not None and len(v) != dim):
            weird_q.append(r[0])
        else:
            good_q.append((r[0], v))
    # dimension consensus: queries disagreeing with the first seen width
    # are weird; corpus rows are checked against the same width
    qm = (
        np.array([v for _, v in good_q], dtype=np.float64)
        if good_q
        else np.zeros((0, dim or 1))
    )
    with np.errstate(divide="ignore", invalid="ignore"):
        qn = np.sqrt((qm * qm).sum(axis=1))
    q_ids = np.array([i for i, _ in good_q], dtype=np.int64)
    eff_k = k + 1  # self-match pad; extra candidates are harmless
    margin = _GEMM_MARGIN

    def gen(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            vecs = pdf[vec_col].to_numpy()
            n = len(ids)
            ok = np.ones(n, dtype=bool)
            for i in range(n):
                v = vecs[i]
                if v is None or len(v) != (dim or 0):
                    ok[i] = False
            out_q, out_c = [], []
            if weird_q:
                # a query float64 can't score probes everything
                for wq in weird_q:
                    out_q.append(np.full(n, wq, dtype=np.int64))
                    out_c.append(ids)
            if n and len(q_ids):
                good_ids = ids[ok]
                if len(good_ids):
                    M = np.array(list(vecs[ok]), dtype=np.float64)
                    with np.errstate(divide="ignore", invalid="ignore"):
                        mn = np.sqrt((M * M).sum(axis=1))
                        cos = (qm @ M.T) / (qn[:, None] * mn[None, :])
                    finite = np.isfinite(cos)
                    for qi in range(len(q_ids)):
                        row = cos[qi]
                        frow = finite[qi]
                        fin_vals = row[frow]
                        if len(fin_vals) > eff_k:
                            thr = np.partition(fin_vals, -eff_k)[-eff_k]
                            keep = (~frow) | (row >= thr - margin)
                        else:
                            keep = np.ones(len(row), dtype=bool)
                        kept = good_ids[keep]
                        out_q.append(np.full(len(kept), q_ids[qi]))
                        out_c.append(kept)
                bad_ids = ids[~ok]
                if len(bad_ids):
                    # rows float64 can't score: candidates for every query
                    for qid in q_ids:
                        out_q.append(np.full(len(bad_ids), qid))
                        out_c.append(bad_ids)
            if out_q:
                yield pd.DataFrame(
                    {
                        "q_id": np.concatenate(out_q),
                        "c_id": np.concatenate(out_c),
                    }
                )

    q_id_type = dict(queries.dtypes)[id_col]
    c_id_type = dict(corpus.dtypes)[id_col]
    return (
        corpus.select(id_col, vec_col)
        .mapInPandas(gen, f"q_id {q_id_type}, c_id {c_id_type}")
        .distinct()  # duplicate corpus ids must not multiply the join
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Round cosine to 12 dp *before* ranking: double→decimal rounding
    differs across engines in the last ulp, so ranking on the rounded
    value (with id tiebreak) keeps the top-k reproducible everywhere."""
    scored = scored.withColumn(
        "cosine", F.round(F.col("dot") / (F.col("q_norm") * F.col("c_norm")), 12)
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("q_id").alias("query_id"),
            "rank",
            F.col("c_id").alias("neighbor_id"),
            "cosine",
        )
    )


#: (salt, num_planes, dim) → ±1 sign matrix, shape (dim, num_planes).
#: Driver-side memo of a PURE hash function of its key (no data flows
#: in — this is code, not result caching); one tiny local grid job per
#: distinct key per process.
_LSH_SIGN_CACHE: dict = {}


def _lsh_sign_matrix(spark, salt: str, num_planes: int, dim: int):
    """±1.0 float64 matrix ``signs[i, j]`` = the Rademacher sign of
    element ``i`` under plane ``j`` — the exact parity of
    ``xxhash64(salt, j, i)`` with the same argument types the legacy
    per-row expression used (string literal, int, int), evaluated once
    by one LocalTableScan grid job and memoized."""
    import numpy as np

    key = (salt, num_planes, dim)
    m = _LSH_SIGN_CACHE.get(key)
    if m is None or m.shape[0] < dim:
        grid = spark.createDataFrame(
            [(j, i) for j in range(num_planes) for i in range(dim)],
            "j int, i int",
        )
        rows = grid.select(
            "j",
            "i",
            F.pmod(
                F.xxhash64(F.lit(salt), F.col("j"), F.col("i")), F.lit(2)
            ).alias("p"),
        ).collect()  # O(num_planes * dim) grid rows — corpus-independent
        m = np.empty((dim, num_planes), dtype=np.float64)
        for row in rows:
            m[row["i"], row["j"]] = 1.0 if row["p"] == 0 else -1.0
        _LSH_SIGN_CACHE[key] = m
    return m


def _lsh_bands(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_planes: int,
    bands: int,
    salt: str,
) -> DataFrame:
    """(id, band_idx, band_val) — banded random-hyperplane signatures.

    Plane ``j`` is a hash-derived Rademacher vector (``sign(i, j) = ±1``
    by ``xxhash64(salt, j, i)`` parity — deterministic across runs with
    no stored state; xxhash64 not md5 because the signature is ENGINE-
    INTERNAL: only the downstream recall certificates are oracled, so
    cross-engine hash parity buys nothing and md5-string hashing was
    measured ~10× slower end-to-end on the signature scan); bit ``j``
    is the sign of the projection ``Σ_i sign(i,j)·x_i`` (SimHash for
    angular distance: P[bits agree] = 1 − θ/π). The ``num_planes`` bits
    split into ``bands`` bands of ``num_planes / bands`` bits; two
    vectors collide when any band's bits all agree — the standard
    OR-of-ANDs recall amplification.

    Physical shape (r13): one Arrow ``mapInPandas`` pass over
    ``(id, vec)``. The previous form built ``num_planes`` interpreted
    higher-order fold expressions (an xxhash64 call per element per
    plane per row) whose ANALYSIS alone dominated the query at bench
    scale (ann_lsh_topk spent ~4.8s of a 5.8s wall in the driver on a
    ~144 KB plan, with 1.05s of executor time); the kernel instead
    applies the memoized sign matrix (:func:`_lsh_sign_matrix` — the
    exact same xxhash64 parities, evaluated once) with a
    SEQUENTIAL-over-``i`` numpy accumulation, so every projection is
    bit-identical to the legacy left-to-right fold. Still no shuffle,
    corpus-linear, and the plan is one MapInPandas node.

    The element dimension is probed from the first tokenful row (one
    bounded job); rows SHORTER than the probed dim fold exactly over
    their own elements (the legacy semantics); a row LONGER than the
    probed dim has no sign rows and raises — a mixed-dimension corpus
    under one hyperplane family is geometrically meaningless.
    """
    r = num_planes // bands
    if r * bands != num_planes:
        raise ValueError(
            f"num_planes ({num_planes}) must be divisible by bands ({bands})"
        )
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    probe = (
        df.select(F.col(vec_col).alias("__v"))
        .filter(F.size(F.col(vec_col)) > 0)
        .first()
    )
    id_type = dict(df.dtypes)[id_col]
    out_schema = f"id {id_type}, band_idx int, band_val long"
    if probe is None:  # no tokenful vectors: empty band table
        return spark.createDataFrame([], out_schema)
    dim = len(probe["__v"])
    signs = _lsh_sign_matrix(spark, salt, num_planes, dim)

    def gen(batches):
        for pdf in batches:
            vecs = pdf["__v"]
            ids = pdf["id"]
            n = len(pdf)
            lens = np.fromiter(
                (0 if v is None else len(v) for v in vecs), dtype=np.int64,
                count=n,
            )
            if (lens > dim).any():
                bad = int(lens.max())
                raise ValueError(
                    f"_lsh_bands: vector of dim {bad} exceeds the "
                    f"probed dim {dim} — mixed-dimension corpora are "
                    "not a meaningful LSH input"
                )
            keep = lens > 0
            if not keep.any():
                continue
            ids = ids[keep].reset_index(drop=True)
            lens = lens[keep]
            kv = [v for v, k in zip(vecs, keep) if k]
            nk = len(kv)
            X = np.zeros((nk, dim), dtype=np.float64)
            for ri, v in enumerate(kv):
                X[ri, : lens[ri]] = v
            # sequential fold over i, vectorized over rows — the adds
            # happen in the same order as the legacy per-row lambda
            # fold, so projections are bit-identical; masking a
            # padded-zero element adds +0.0, which IEEE-preserves the
            # running value
            acc = np.zeros((nk, num_planes), dtype=np.float64)
            for i in range(dim):
                acc = acc + signs[i][None, :] * X[:, i][:, None]
            bits = acc >= 0.0
            frames = []
            for b in range(bands):
                bv = np.zeros(nk, dtype=np.int64)
                for j in range(r):
                    bv |= bits[:, b * r + j].astype(np.int64) << j
                frames.append(
                    pd.DataFrame(
                        {
                            "id": ids,
                            "band_idx": np.full(nk, b, dtype=np.int32),
                            "band_val": bv,
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("__v")
    ).mapInPandas(gen, out_schema)


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 16,
    bands: int = 4,
    salt: str = "lsh",
    exclude_self: bool = True,
) -> DataFrame:
    """LSH-bucketed ANN top-k — the hyperplane-hash alternative to the
    IVF scale path (no training step at all: the "index" is a pure
    function of each vector, so it composes with streaming ingest and
    never drifts the way learned centroids do; the trade is coarser
    buckets than a fitted quantizer).

    Candidate generation is an equi-join of banded signatures on
    ``(band_idx, band_val)`` — only vectors sharing a band bucket ever
    pair, never all-pairs; recall comes from the OR over ``bands``
    bands. Candidates are exact-cosine re-ranked (double arithmetic —
    candidate scoring is engine-internal) with the
    :func:`_rank_topk` rounding + id-tiebreak convention, so the
    output shape matches :func:`cosine_topk` / :func:`ivf_topk`:
    (query_id, rank, neighbor_id, cosine).

    100 TB shape: the query side broadcasts (the interactive-search
    contract, |queries| << |corpus|); the corpus-side signature scan is
    one codegen pass; the only shuffles are the candidate distinct and
    the per-query rank window, both over candidate volume — which the
    band width (``num_planes / bands`` bits) caps per bucket."""
    qb = _lsh_bands(queries, id_col, vec_col, num_planes, bands, salt)
    cb = _lsh_bands(corpus, id_col, vec_col, num_planes, bands, salt)
    cand = (
        F.broadcast(qb.withColumnRenamed("id", "q_id"))
        .join(cb.withColumnRenamed("id", "c_id"), ["band_idx", "band_val"])
        .select("q_id", "c_id")
        .distinct()
    )
    if exclude_self:
        cand = cand.filter(F.col("q_id") != F.col("c_id"))
    qf = _with_norm(queries, id_col, vec_col, "q")
    cf = _with_norm(corpus, id_col, vec_col, "c")
    scored = (
        cand.join(cf, "c_id")
        .join(F.broadcast(qf), "q_id")
        .withColumn("dot", _dot_double(F.col("q_vec"), F.col("c_vec")))
    )
    return _rank_topk(scored, k)


def _require_integral_id(df: DataFrame, id_col: str, fn: str) -> None:
    """The blocked numpy kernels cast ids to long; a non-integral id
    column would become NULLs (silent empty results) or crash inside an
    executor with an opaque NaN-conversion error — fail fast instead.
    ``cosine_topk`` has no such restriction (ids stay JVM-side)."""
    dt = df.schema[id_col].dataType.typeName()
    if dt not in ("long", "integer", "short", "byte"):
        raise TypeError(
            f"{fn} requires an integral {id_col!r} (got {dt}): the "
            "blocked kernels key numpy arrays by 64-bit ids — map your "
            "ids to longs first (e.g. xxhash64 or a join key table)"
        )


def cosine_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    num_blocks: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a < b) with
    cosine ≥ threshold — the embedding tier of the dedup family.
    Output columns are ``{id_col}_a, {id_col}_b, cosine`` (so callers
    with a non-default ``id_col`` — e.g. ``IncrementalEmbeddingDedup`` —
    can reference them by name).

    Two phases, candidates then verification — all-pairs decimal scoring
    would be O(n²·d) in interpreted decimal arithmetic:

    1. *Candidates*: DISTRIBUTED blocked GEMM. Vectors hash into
       ``num_blocks`` deterministic blocks (``xxhash64(id) % B``); each
       of the B·(B+1)/2 block pairs is one ``applyInPandas`` group that
       multiplies its two row blocks with numpy. Nothing is collected to
       the driver and nothing corpus-sized broadcasts: peak task memory
       is two blocks (n/B rows each), shuffle volume is B copies of
       the corpus (each vector's block sits in B of the block pairs), and compute O(n²·d) spreads evenly over the
       cluster. Raise ``num_blocks`` until a block fits in executor
       memory; each unordered pair lands in exactly one group, so no
       dedup pass is needed. A 1e-6 margin under the threshold
       guarantees no true pair is lost to double rounding (error bound
       ~1e-12 at 64-d).

       Why not LSH-banded candidates (the MinHash/SimHash shape): an
       EXACT threshold join admits no sub-quadratic candidate phase with
       recall 1.0 — sign-random-projection banding is probabilistic, and
       the corpus contains pairs at cosine 0.40001 against a 0.4
       threshold, where SRP's per-bit agreement is only ~0.63. The
       approximate tiers of the family (minhash/simhash/ivf) own the
       sub-quadratic trade; this operator owns exactness.
    2. *Verify*: exact decimal ``zip_with`` dot on the surviving pairs
       only; cosine rounds to 12 dp before the threshold, bit-identical
       to the DuckDB oracle. Candidate/corpus joins are plain shuffled
       hash joins on the id (AQE may still elect broadcast from observed
       sizes — that is a runtime decision, not a baked-in assumption).
    """
    import math

    import pandas as pd

    _require_integral_id(df, id_col, "cosine_neardup_pairs")
    spark = df.sparkSession
    if num_blocks is None:
        # enough block pairs (B(B+1)/2) to feed every core at least once
        num_blocks = max(4, math.isqrt(2 * spark.sparkContext.defaultParallelism) + 1)
    margin = threshold - 1e-6

    vecs = df.select(
        F.col(id_col).cast("long").alias("vid"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col).cast("long")), F.lit(num_blocks))
        .cast("int")
        .alias("blk"),
    )
    block_pairs = spark.createDataFrame(
        [(i, j) for i in range(num_blocks) for j in range(i, num_blocks)],
        "bi int, bj int",
    )
    fanned = vecs.join(
        F.broadcast(block_pairs),
        (F.col("blk") == F.col("bi")) | (F.col("blk") == F.col("bj")),
    )

    def block_gemm(key, pdf):
        import numpy as np

        bi, bj = key
        empty = pd.DataFrame(
            {"vec_id_a": pd.Series(dtype="int64"), "vec_id_b": pd.Series(dtype="int64")}
        )
        if len(pdf) == 0:
            return empty
        ids = pdf["vid"].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["vec"]), dtype=np.float64)
        nrm = np.sqrt((mat * mat).sum(axis=1))
        if bi == bj:
            cos = (mat @ mat.T) / np.outer(nrm, nrm)
            ai, bi_ = np.nonzero(cos >= margin)
            a_ids, b_ids = ids[ai], ids[bi_]
            keep = a_ids < b_ids  # both orderings present: upper triangle
            a_ids, b_ids = a_ids[keep], b_ids[keep]
        else:
            la = (pdf["blk"] == bi).to_numpy()
            lb = ~la
            if not la.any() or not lb.any():
                return empty
            cos = (mat[la] @ mat[lb].T) / np.outer(nrm[la], nrm[lb])
            ai, bi_ = np.nonzero(cos >= margin)
            x, y = ids[la][ai], ids[lb][bi_]
            # cross-block pairs appear once; order by id, drop self-pairs
            a_ids, b_ids = np.minimum(x, y), np.maximum(x, y)
            keep = a_ids < b_ids
            a_ids, b_ids = a_ids[keep], b_ids[keep]
        return pd.DataFrame({"vec_id_a": a_ids, "vec_id_b": b_ids})

    candidates = fanned.groupBy("bi", "bj").applyInPandas(
        block_gemm, schema="vec_id_a long, vec_id_b long"
    )
    a = (
        _with_norm(df.withColumn(id_col, F.col(id_col).cast("long")), id_col, vec_col, "q")
        .withColumnRenamed("q_id", "vec_id_a")
    )
    b = (
        _with_norm(df.withColumn(id_col, F.col(id_col).cast("long")), id_col, vec_col, "c")
        .withColumnRenamed("c_id", "vec_id_b")
    )
    return (
        candidates.join(a, "vec_id_a")
        .join(b, "vec_id_b")
        .withColumn("dot", _dot(F.col("q_vec"), F.col("c_vec")))
        .withColumn(
            "cosine", F.round(F.col("dot") / (F.col("q_norm") * F.col("c_norm")), 12)
        )
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("vec_id_a").alias(f"{id_col}_a"),
            F.col("vec_id_b").alias(f"{id_col}_b"),
            "cosine",
        )
    )


def cosine_1nn_gemm(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int | None = None,
) -> DataFrame:
    """Leave-one-out 1-nearest-neighbor for EVERY vector in the corpus —
    the full-corpus embedding-quality eval (does my nearest neighbor
    share my label?). Output: ``(query_id, neighbor_id, cosine)``, one
    row per vector — except degenerate cases with no defined cosine
    neighbor (singleton corpora, all-zero vectors), which emit nothing.

    Same distributed blocked-GEMM skeleton as
    :func:`cosine_neardup_pairs` — vectors hash into B blocks, each of
    the B·(B+1)/2 block pairs is one numpy matmul task, nothing
    corpus-sized on the driver or in a broadcast — but instead of
    thresholded pairs each task emits ONE partial best per vector per
    block pair, and a per-vector max-struct aggregation reduces the B
    partials to the global argmax. Shuffle volume: B corpus copies
    into the tasks (each vector's block sits in B of the block pairs)
    + n·B tiny partial rows out — at no point an n² pair table.

    Ranking is float64 (BLAS) rounded to 12 dp with ascending-id
    tiebreak — deterministic for a fixed corpus, and agreement with the
    exact-decimal :func:`cosine_topk` ranking on a shared slice is
    pinned in tests; cross-engine bit-reproducibility is NOT part of
    this operator's contract (BLAS reassociation), which is why its
    driver query emits exact counts and an agreement boolean instead of
    the ranked lists. Cite: the eval-scale gap called out in
    round-5 review of the 25-query exact slice (knn_label_accuracy).
    """
    import math

    import pandas as pd

    _require_integral_id(df, id_col, "cosine_1nn_gemm")
    spark = df.sparkSession
    if num_blocks is None:
        num_blocks = max(4, math.isqrt(2 * spark.sparkContext.defaultParallelism) + 1)

    vecs = df.select(
        F.col(id_col).cast("long").alias("vid"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col).cast("long")), F.lit(num_blocks))
        .cast("int")
        .alias("blk"),
    )
    block_pairs = spark.createDataFrame(
        [(i, j) for i in range(num_blocks) for j in range(i, num_blocks)],
        "bi int, bj int",
    )
    fanned = vecs.join(
        F.broadcast(block_pairs),
        (F.col("blk") == F.col("bi")) | (F.col("blk") == F.col("bj")),
    )

    def _bests(ids_q, ids_c, cos):
        """Per q-row best (max rounded cosine, min id on ties).

        Non-finite entries (a zero-norm vector on EITHER side yields
        NaN cosine) are masked to -inf PER ELEMENT before the argmax —
        one degenerate corpus vector must not poison ``row.max()`` into
        NaN and silently drop every query sharing its block pair. A row
        that is all -inf (the zero-norm QUERY itself, or no finite
        candidate) emits no partial: a zero vector has no defined
        cosine neighbor."""
        import numpy as np

        c = np.round(np.where(np.isfinite(cos), cos, -np.inf), 12)
        out_q, out_n, out_c = [], [], []
        for i in range(c.shape[0]):
            row = c[i]
            m = row.max()
            if not np.isfinite(m):
                continue  # no eligible finite neighbor in this pair
            out_q.append(ids_q[i])
            out_n.append(ids_c[row == m].min())
            out_c.append(m)
        return out_q, out_n, out_c

    def block_best(key, pdf):
        import numpy as np

        bi, bj = key
        empty = pd.DataFrame(
            {
                "qid": pd.Series(dtype="int64"),
                "nid": pd.Series(dtype="int64"),
                "cos": pd.Series(dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        ids = pdf["vid"].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["vec"]), dtype=np.float64)
        nrm = np.sqrt((mat * mat).sum(axis=1))
        qs, ns, cs = [], [], []
        if bi == bj:
            cos = (mat @ mat.T) / np.outer(nrm, nrm)
            np.fill_diagonal(cos, -np.inf)  # leave-one-out: self excluded
            q, n_, c = _bests(ids, ids, cos)
            qs += q; ns += n_; cs += c
        else:
            la = (pdf["blk"] == bi).to_numpy()
            lb = ~la
            if la.any() and lb.any():
                cos = (mat[la] @ mat[lb].T) / np.outer(nrm[la], nrm[lb])
                q, n_, c = _bests(ids[la], ids[lb], cos)
                qs += q; ns += n_; cs += c
                q, n_, c = _bests(ids[lb], ids[la], cos.T)
                qs += q; ns += n_; cs += c
        if not qs:
            return empty
        return pd.DataFrame({"qid": qs, "nid": ns, "cos": cs})

    partial = fanned.groupBy("bi", "bj").applyInPandas(
        block_best, schema="qid long, nid long, cos double"
    )
    # global argmax per vector: lexicographic struct max = highest
    # cosine, then smallest neighbor id (-nid max ⇔ nid min)
    return (
        partial.groupBy("qid")
        .agg(
            F.max(
                F.struct(
                    F.col("cos"), (-F.col("nid")).alias("neg"), F.col("nid")
                )
            ).alias("b")
        )
        .select(
            F.col("qid").alias("query_id"),
            F.col("b.nid").alias("neighbor_id"),
            F.col("b.cos").alias("cosine"),
        )
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    num_blocks: int | None = None,
    emit_vec: bool = False,
) -> DataFrame:
    """Assign every vector to its nearest centroid (max cosine; ties by
    smallest centroid id).

    Returns (vec_id, centroid_id) — or, with ``emit_vec=True``,
    (vec_id, centroid_id, ``vec_col``) with the vector passed through
    the same cogroup task (r13): the cogroup already holds every
    vector, so callers that need the bucketed vectors (``ivf_topk``,
    ``semantic_dedup``) previously re-joined the corpus on the id —
    one removable corpus-sized shuffle join (guide §2.4). This is the
    build step of an IVF index; persisted partitioned-by-centroid it
    gives pruned ANN scans.

    Physical shape: the corpus hashes into ``num_blocks`` blocks; the
    O(k) centroid set replicates to every block (k·B tiny rows) and each
    block is one cogrouped ``applyInPandas`` task doing a single numpy
    ``block @ centroids.T`` + argmax — vectorized Arrow-batch compute,
    no per-row interpreted fold, no window shuffle, no driver state.
    """
    import numpy as np
    import pandas as pd

    _require_integral_id(corpus, id_col, "ivf_assign")
    spark = corpus.sparkSession
    blocks = num_blocks or max(4, spark.sparkContext.defaultParallelism)
    c = corpus.select(
        F.col(id_col).cast("long").alias("vid"), F.col(vec_col).alias("vec")
    ).withColumn("blk", F.pmod(F.xxhash64(F.col("vid")), F.lit(blocks)).cast("int"))
    # pin the cogroup width to the block count (r14): the cogroup's
    # ENSURE_REQUIREMENTS exchange is AQE-coalescible, and at bench
    # scale AQE folded all `blocks` Python tasks into ONE worker that
    # processed the groups serially (measured: the assignment stage ran
    # 1 task); a user-specified hash repartition on the same key is the
    # distribution the cogroup needs anyway, is not coalesced, and
    # keeps one Arrow task per block at any scale (guide §2.5)
    c = c.repartition(blocks, "blk")
    kb = centroids.select(
        F.col(centroid_id).cast("long").alias("cid"), F.col(vec_col).alias("cvec")
    ).crossJoin(
        spark.range(blocks).select(F.col("id").cast("int").alias("blk"))
    )

    def assign(key, cpdf: pd.DataFrame, kpdf: pd.DataFrame) -> pd.DataFrame:
        if len(cpdf) == 0 or len(kpdf) == 0:
            out = {
                "vid": pd.Series(dtype="int64"),
                "cid": pd.Series(dtype="int64"),
            }
            if emit_vec:
                out["vec"] = pd.Series(dtype="object")
            return pd.DataFrame(out)
        kpdf = kpdf.sort_values("cid")  # argmax keeps first max → smallest cid ties
        mat = np.array(list(cpdf["vec"]), dtype=np.float64)
        kmat = np.array(list(kpdf["cvec"]), dtype=np.float64)
        cos = (mat @ kmat.T) / np.outer(
            np.sqrt((mat * mat).sum(axis=1)), np.sqrt((kmat * kmat).sum(axis=1))
        )
        # mask NaN (zero-norm vector OR zero-norm centroid) to -inf:
        # np.argmax returns the first NaN's index, so one all-zero
        # centroid would otherwise swallow EVERY vector in the block
        # and collapse the index to a single bucket. A zero-norm
        # vector (all--inf row) argmaxes to frame index 0, which IS
        # the smallest centroid id because kpdf was just sorted by
        # cid above — deterministic, and no worse than any other home
        # for a vector with no defined cosine.
        cos = np.where(np.isfinite(cos), cos, -np.inf)
        best = kpdf["cid"].to_numpy()[cos.argmax(axis=1)]
        out = {"vid": cpdf["vid"].to_numpy(), "cid": best}
        if emit_vec:
            # .to_numpy(): a raw Series here would realign on cpdf's
            # original index against the positional vid/cid arrays
            out["vec"] = cpdf["vec"].to_numpy()
        return pd.DataFrame(out)

    vec_t = corpus.schema[vec_col].dataType.simpleString()
    schema = "vid long, cid long" + (f", vec {vec_t}" if emit_vec else "")
    out = (
        c.groupBy("blk")
        .cogroup(kb.groupBy("blk"))
        .applyInPandas(assign, schema=schema)
    )
    cols = [F.col("vid").alias(id_col), F.col("cid").alias(centroid_id)]
    if emit_vec:
        cols.append(F.col("vec").alias(vec_col))
    return out.select(*cols)


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 64,
    iters: int = 2,
) -> DataFrame:
    """Fixed-size centroid set: deterministic sample + k-means refinement,
    all in DataFrame algebra.

    Init = the ``k`` corpus vectors with the smallest ``xxhash64(id)`` — a
    deterministic pseudo-random sample whose SIZE DOES NOT GROW WITH n
    (the round-1 every-k-th-vector scheme made the centroid broadcast
    O(n)). Each refinement iteration is one assignment pass
    (:func:`ivf_assign`, O(k) centroid replication) plus a TWO-STAGE
    per-centroid mean: partial (count, sum) per (centroid, block) — so no
    task ever holds a whole cluster, even when one centroid owns most of
    the corpus — then a k-group combine. Both stages sum in a sorted
    order (id, then block), so the float means are deterministic.
    Returns (centroid_id, ``vec_col``); centroid ids are the sampled seed
    ids, stable across runs. Empty clusters drop out, so ≤ k centroids
    come back.
    """
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    blocks = max(4, spark.sparkContext.defaultParallelism)

    cent = (
        corpus.select(
            F.col(id_col).cast("long").alias("centroid_id"), F.col(vec_col)
        )
        .withColumn("__h", F.xxhash64("centroid_id"))
        .orderBy("__h")
        .limit(k)
        .drop("__h")
    )
    if iters <= 0:
        return cent

    # blocked corpus is iteration-invariant — compute once, reuse per
    # iter; pinned to one partition per block (the ivf_assign r14
    # cogroup-width rationale) so every iteration's assignment pass
    # keeps one Arrow task per block instead of AQE folding them into
    # a single serial worker
    c = (
        corpus.select(F.col(id_col).cast("long").alias("vid"), F.col(vec_col).alias("vec"))
        .withColumn("blk", F.pmod(F.xxhash64(F.col("vid")), F.lit(blocks)).cast("int"))
        .repartition(blocks, "blk")
        .persist()
    )

    def _assign_partials(key, cpdf: pd.DataFrame, kpdf: pd.DataFrame) -> pd.DataFrame:
        # one task = one block: nearest-centroid argmax + per-centroid
        # partial (count, sum) in a single numpy pass — no corpus join,
        # no corpus-sized group ever materializes
        if len(cpdf) == 0 or len(kpdf) == 0:
            return pd.DataFrame(
                {
                    "centroid_id": pd.Series(dtype="int64"),
                    "blk": pd.Series(dtype="int32"),
                    "cnt": pd.Series(dtype="int64"),
                    "vsum": pd.Series(dtype="object"),
                }
            )
        kpdf = kpdf.sort_values("cid")
        order = np.argsort(cpdf["vid"].to_numpy(), kind="stable")
        mat = np.array(list(cpdf["vec"]), dtype=np.float64)[order]
        kmat = np.array(list(kpdf["cvec"]), dtype=np.float64)
        cos = (mat @ kmat.T) / np.outer(
            np.sqrt((mat * mat).sum(axis=1)), np.sqrt((kmat * kmat).sum(axis=1))
        )
        # NaN mask (see ivf_assign): a zero-norm seed centroid must not
        # swallow every vector via argmax-on-NaN
        cos = np.where(np.isfinite(cos), cos, -np.inf)
        best = cos.argmax(axis=1)
        cids = kpdf["cid"].to_numpy()
        out = []
        for ki in np.unique(best):
            sel = mat[best == ki]
            out.append((int(cids[ki]), int(key[0]), len(sel), sel.sum(axis=0)))
        return pd.DataFrame(out, columns=["centroid_id", "blk", "cnt", "vsum"])

    def _combine(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("blk")
        total = np.array(list(pdf["vsum"]), dtype=np.float64).sum(axis=0)
        mean = (total / pdf["cnt"].sum()).astype(np.float32)
        return pd.DataFrame(
            {"centroid_id": [int(pdf["centroid_id"].iloc[0])], vec_col: [mean]}
        )

    for _ in range(iters):
        kb = cent.select(
            F.col("centroid_id").alias("cid"), F.col(vec_col).alias("cvec")
        ).crossJoin(spark.range(blocks).select(F.col("id").cast("int").alias("blk")))
        partial = (
            c.groupBy("blk")
            .cogroup(kb.groupBy("blk"))
            .applyInPandas(
                _assign_partials,
                schema="centroid_id long, blk int, cnt long, vsum array<double>",
            )
        )
        cent = partial.groupBy("centroid_id").applyInPandas(
            _combine, schema=f"centroid_id long, {vec_col} array<float>"
        )
        # k tiny rows, but a lineage holding a full corpus pass per iter:
        # truncate executor-side (no driver round-trip) so the next
        # iteration doesn't recompute the whole chain
        cent = cent.localCheckpoint(eager=True)
    c.unpersist()
    return cent


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_centroids: int = 64,
    nprobe: int = 12,
    kmeans_iters: int = 1,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-bucketed approximate top-k.

    Fixed ``num_centroids`` k-means centroids (:func:`kmeans_centroids` —
    the broadcast in :func:`ivf_assign` is O(k) at any corpus size),
    corpus bucketed by nearest centroid, each query probes its ``nprobe``
    nearest buckets and brute-forces only those. Recall < 1 by
    construction; the pytest suite measures it against
    :func:`cosine_topk`. At 100 TB, persist the assignment partitioned
    by ``centroid_id`` (``df.write.partitionBy("centroid_id")``) so a
    probe prunes to ``nprobe/num_centroids`` of the files at scan time.
    """
    centroids = kmeans_centroids(
        corpus, id_col, vec_col, k=num_centroids, iters=kmeans_iters
    )
    # the assignment cogroup passes the vectors through (r13) — the
    # previous corpus.join(assignment) re-shuffled the whole corpus on
    # the id just to re-attach vectors the cogroup already held
    bucketed = ivf_assign(
        corpus, centroids, id_col, vec_col, emit_vec=True
    )
    return _probe_and_score(
        queries, centroids, bucketed, id_col, vec_col, k, nprobe,
        exclude_self=exclude_self,
    )


def _probe_and_score(
    queries: DataFrame,
    centroids: DataFrame,
    bucketed: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    nprobe: int,
    exclude_self: bool = True,
) -> DataFrame:
    """Shared IVF query tail: route each query to its ``nprobe`` nearest
    centroids, then exact-score only the probed buckets."""
    # probe list: nprobe nearest centroids per query (double arithmetic —
    # probing is approximate routing, not part of the exactness contract)
    probes = cosine_topk(
        queries,
        centroids.withColumnRenamed("centroid_id", id_col),
        id_col,
        vec_col,
        k=nprobe,
        exact=False,
        # centroid ids and query ids are different namespaces: a query
        # whose id collides with a centroid id must still probe that
        # centroid's bucket (its own likely-nearest one)
        exclude_self=False,
    ).select(F.col("query_id"), F.col("neighbor_id").alias("centroid_id"))

    # restrict the corpus to probed buckets per query, then exact scoring
    # norm BEFORE the probe join: after it every corpus row is
    # replicated once per probing query, and the O(d) fold with it
    sub = (
        bucketed.withColumn("c_norm", _norm(F.col(vec_col)))
        .join(F.broadcast(probes), on="centroid_id")
        .select(
            F.col("query_id").alias("probe_query"),
            F.col(id_col).alias("c_id"),
            F.col(vec_col).alias("c_vec"),
            "c_norm",
        )
    )
    qf = _with_norm(queries, id_col, vec_col, "q")
    scored = F.broadcast(qf).join(sub, qf["q_id"] == sub["probe_query"])
    if exclude_self:
        # pass False when query and corpus ids live in different
        # namespaces (the cosine_topk contract): an id collision must
        # not silently drop a true neighbor from the probe scoring
        scored = scored.filter(F.col("q_id") != F.col("c_id"))
    scored = scored.withColumn(
        "dot", _dot_double(F.col("q_vec"), F.col("c_vec"))
    )
    return _rank_topk(scored, k)


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.85,
    k: int = 64,
    iters: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): k-means
    cluster the embedding space, then within each cluster run a greedy
    leader pass in id order — a document is PRUNED when some earlier
    KEPT document in its cluster has cosine ≥ ``threshold``, and that
    document is recorded as its ``witness``.

    Output: one row per input document —
    (``id_col``, centroid_id, kept boolean, witness nullable long).
    For pruned rows ``witness`` is the kept leader that suppressed them
    (cos ≥ threshold by construction). For kept rows ``witness`` is the
    EARLIER KEPT cluster-mate with the highest cosine — its cosine is
    < threshold by construction; null when no such mate has a defined
    cosine (first keeper of a cluster, or either side zero-norm). Both
    invariants are recomputed independently of this numpy path by the
    ``semantic_dedup`` driver query's certificate join, so a broken
    prune decision flips a hash-checked boolean.

    Everything is deterministic: k-means init is the hash-ordered
    sample (:func:`kmeans_centroids`), assignment ties break by
    smallest centroid id, and the leader scan runs in ascending id
    order. Zero-norm vectors have no defined cosine; they are never
    similar to anything (always kept, never cited as a witness, never
    assigned one). Witness presence is tracked with an explicit flag,
    not an id sentinel, so negative document ids round-trip intact.

    100 TB shape: clustering is what makes semantic dedup sub-quadratic
    — the corpuswide GEMM of :func:`cosine_neardup_pairs` becomes one
    task per cluster, each O(c²·d) for cluster size c. ``k`` is the
    scale knob: grow it ∝ n so mean cluster size (and so per-task
    memory/compute) stays bounded; skew is observable up front via
    :meth:`IvfIndex.drift_stats`-style bucket counts on the assignment.
    The only shuffles are the assignment cogroup and the final
    per-cluster group — no pairwise table ever materializes.
    """
    import numpy as np
    import pandas as pd

    _require_integral_id(corpus, id_col, "semantic_dedup")
    cent = (
        centroids
        if centroids is not None
        else kmeans_centroids(corpus, id_col, vec_col, k=k, iters=iters)
    )
    # the assignment cogroup passes the vectors through (r13) — the
    # previous corpus-side re-join on the id was a removable
    # corpus-sized shuffle (guide §2.4)
    members = ivf_assign(
        corpus, cent, id_col=id_col, vec_col=vec_col, emit_vec=True
    ).select(
        F.col(id_col).cast("long").alias("vid"),
        F.col("centroid_id").alias("cid"),
        F.col(vec_col).alias("vec"),
    )

    thr = float(threshold)

    def leader_prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vid")
        mat = np.array(list(pdf["vec"]), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        ok = norms > 0.0
        # unit-normalize; zero-norm rows stay all-zero → cosine 0 with
        # everything → below any positive threshold → kept, never cited
        unit = np.where(ok[:, None], mat / np.where(ok, norms, 1.0)[:, None], 0.0)
        n = len(pdf)
        vids = pdf["vid"].to_numpy()
        kept = np.zeros(n, dtype=bool)
        witness = np.zeros(n, dtype=np.int64)
        has_w = np.zeros(n, dtype=bool)
        # keepers eligible to be cited: kept AND nonzero-norm (a zero
        # vector has no defined cosine, so it can neither suppress nor
        # be anyone's closest mate)
        cite_rows: list[int] = []
        for j in range(n):
            if ok[j] and cite_rows:
                cos = unit[cite_rows] @ unit[j]
                b = int(np.argmax(cos))
                witness[j] = vids[cite_rows[b]]
                has_w[j] = True
                if cos[b] >= thr:
                    continue  # pruned: witness = suppressing leader
            kept[j] = True
            if ok[j]:
                cite_rows.append(j)
        return pd.DataFrame(
            {
                "vid": vids,
                "cid": pdf["cid"].to_numpy(),
                "kept": kept,
                "witness": witness,
                "has_w": has_w,
            }
        )

    out = members.groupBy("cid").applyInPandas(
        leader_prune,
        schema="vid long, cid long, kept boolean, witness long, has_w boolean",
    )
    return out.select(
        F.col("vid").alias(id_col),
        F.col("cid").alias("centroid_id"),
        "kept",
        F.when(F.col("has_w"), F.col("witness")).alias("witness"),
    )


#: SemanticDedupIndex on-disk layout version (the NearDupLabels
#: versioning discipline — reads refuse a mismatched layout).
SEMDEDUP_FORMAT_VERSION = 1
_SEM_KEEPERS_SCHEMA = "vid long, vec array<float>, cid long, run string"
#: run tag for the initial build's keeper partitions.
_SEM_BUILD_RUN = "build"


class SemanticDedupIndex:
    """Persisted SemDeDup state — the fit-once / admit-many artifact
    form of :func:`semantic_dedup` (the IvfIndex / NearDupLabels /
    DsirModel pattern, fourth application): the k-means centroid table
    plus each cluster's KEEPER set (kept docs with their vectors),
    partitioned by cluster so an incremental admission touches only the
    clusters its batch lands in.

    Layout under ``path``: ``centroids/`` (O(k) rows), ``keepers/``
    parquet partitioned by ``(cid, run)`` — cluster-first for probe
    locality, run-second so a replayed epoch's rewrite is an idempotent
    dynamic overwrite of its own partitions — and ``meta/`` (threshold,
    id/vec cols, format_version) written LAST so a crashed build reads
    as absent (the DsirModel crash discipline).

    **Equivalence contract** (pinned by
    ``test_incremental_semantic_equals_batch_on_union``): greedy leader
    selection is order-dependent, so the incremental labeling equals
    ``semantic_dedup(union, centroids=<this index's centroids>)``
    exactly WHEN document ids arrive in ascending order across batches
    (each batch's ids all exceed the previous batches') — then arrival
    order ≡ id order and the two greedy scans visit documents
    identically. For out-of-order arrival the kept/pruned sets may
    differ from the batch run (a late small id meets keepers the batch
    scan would have visited after it), but the SemDeDup INVARIANT holds
    unconditionally: every pruned doc has a stored keeper at cosine ≥
    threshold in its cluster, and every kept doc cleared every keeper
    stored before it. Centroids are frozen at build (the IVF ingest
    trade — rebuild to re-center after drift).

    Scale: admission cost is O(batch·k) for the assignment GEMM plus
    one per-touched-cluster kernel over (stored keepers + batch
    members) — the keeper read partition-prunes on ``cid``, so an
    epoch that lands in 5 clusters reads 5 partitions of state no
    matter how large the corpus grew.
    """

    CENTROIDS = "centroids"
    KEEPERS = "keepers"
    META = "meta"
    RUNS_DOCS = "runs_docs"

    def __init__(self, spark, path: str) -> None:
        self.spark = spark
        self.path = path
        self._centroids_path = os.path.join(path, self.CENTROIDS)
        self._keepers_path = os.path.join(path, self.KEEPERS)
        self._meta_path = os.path.join(path, self.META)
        self._runs_docs_path = os.path.join(path, self.RUNS_DOCS)
        self._clog = CompactionLog(spark, path)
        self.fs = self._clog.fs  # StateFS (r11): shared per-path dispatch
        self._meta: dict | None = None
        self._keepers = PartitionedTable(
            self._keepers_path, self.keepers, ("cid", "run")
        )
        #: (run, vid) — kept ids of every COMPACTED run
        self._registry = PartitionedTable(
            self._runs_docs_path,
            lambda: read_registry(spark, self._runs_docs_path, "vid"),
            ("run",),
        )

    # -- lifecycle ------------------------------------------------------
    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        threshold: float = 0.85,
        k: int = 64,
        iters: int = 2,
        run_id: str | None = None,
    ) -> "SemanticDedupIndex":
        """``run_id`` attributes the initial keepers to an admitting
        run instead of the anonymous ``build`` tag. A streaming
        bootstrap (``IncrementalSemanticDedup``) MUST pass its epoch's
        run_id: a crash between this build and the sink commit
        re-delivers the same epoch, and ``admit_batch`` can only
        recognize the stored keepers as its own attempt — re-deriving
        and re-returning the identical admitted rows — when they carry
        its run tag. Under the old anonymous tag the replay anti-joined
        its own keepers away and returned EMPTY, so the epoch-0
        overwrite sink lost every admitted document."""
        run_tag = _SEM_BUILD_RUN if run_id is None else run_id
        validate_run_id(run_tag, "partition")
        reject_compact_namespace(run_tag, "SemanticDedupIndex.build")
        spark = corpus.sparkSession
        idx = cls(spark, path)
        # meta (the commit marker) is deleted FIRST on rebuild: a crash
        # mid-rebuild must read as absent, never as half-rebuilt
        for p in (
            idx._meta_path,
            idx._keepers_path,
            idx._centroids_path,
            idx._runs_docs_path,
            idx._clog.path,
        ):
            idx.fs.rmtree(p)
        idx._meta = None
        cent = kmeans_centroids(
            corpus, id_col, vec_col, k=k, iters=iters
        ).localCheckpoint(eager=True)  # feeds decisions AND the artifact
        decisions = semantic_dedup(
            corpus, id_col, vec_col, threshold, centroids=cent
        )
        vecs = corpus.select(
            F.col(id_col).cast("long").alias("vid"),
            F.col(vec_col).cast("array<float>").alias("vec"),
        )
        keepers = (
            decisions.filter(F.col("kept"))
            .select(
                F.col(id_col).cast("long").alias("vid"),
                F.col("centroid_id").alias("cid"),
            )
            .join(vecs, "vid")
            .select("vid", "vec", "cid", F.lit(run_tag).alias("run"))
        )
        keepers.write.mode("overwrite").partitionBy("cid", "run").parquet(
            idx._keepers_path
        )
        cent.write.mode("overwrite").parquet(idx._centroids_path)
        spark.createDataFrame(
            [(float(threshold), id_col, vec_col, int(k),
              SEMDEDUP_FORMAT_VERSION)],
            "threshold double, id_col string, vec_col string, k int, "
            "format_version int",
        ).coalesce(1).write.mode("overwrite").parquet(idx._meta_path)
        return idx

    @classmethod
    def load(cls, spark, path: str) -> "SemanticDedupIndex":
        return cls(spark, path)

    def exists(self) -> bool:
        return self.fs.exists(self._meta_path)

    @property
    def meta(self) -> dict:
        if self._meta is None:
            self._meta = self.spark.read.parquet(self._meta_path).first().asDict()
        return self._meta

    def _check_version(self) -> None:
        check_format_version(
            int(self.meta.get("format_version") or 0),
            SEMDEDUP_FORMAT_VERSION,
            f"SemanticDedupIndex at {self.path!r}",
        )

    def centroids(self) -> DataFrame:
        return self.spark.read.parquet(self._centroids_path)

    def keepers(self) -> DataFrame:
        """(vid, vec, cid, run) — every LIVE stored keeper: rows folded
        by a committed :meth:`compact` and rows under an uncommitted
        compaction tag are excluded, so reads stay exact through every
        crash window of a compaction."""
        if not self.fs.exists(self._keepers_path):
            return self.spark.createDataFrame([], _SEM_KEEPERS_SCHEMA)
        return (
            self.spark.read.schema(_SEM_KEEPERS_SCHEMA)
            .parquet(self._keepers_path)
            .filter(self._clog.live_run_filter("run"))
        )

    # -- incremental admission -----------------------------------------
    def admit_batch(self, batch: DataFrame, run_id: str) -> DataFrame:
        """Admit the semantically-novel slice of ``batch``: each doc is
        assigned to its frozen centroid and greedily checked (ascending
        id within the batch) against that cluster's stored keepers plus
        the batch's own earlier keepers; survivors append to the keeper
        store under ``run_id``. Returns the admitted rows.

        Replay-deterministic without a marker: the decision is a pure
        function of (keepers stored by OTHER runs, batch) — this run's
        own partitions are excluded from the old side (the NearDupLabels
        replay discipline) — and the keeper write is a dynamic overwrite
        of this run's ``(cid, run)`` partitions, so a crashed epoch
        re-runs to an identical state. Batch ids already kept by another
        run are dropped outright; a previously-PRUNED id resubmitted
        under a new run re-evaluates (its suppressor is still stored, so
        it re-prunes — unless a :meth:`remove`-style retraction freed
        it)."""
        self._check_version()
        validate_run_id(run_id or "", "partition")
        reject_compact_namespace(run_id, "SemanticDedupIndex.admit_batch")
        meta = self.meta
        id_col, vec_col = meta["id_col"], meta["vec_col"]
        thr = float(meta["threshold"])
        _require_integral_id(batch, id_col, "SemanticDedupIndex.admit_batch")
        if run_id in self._clog.folded_originals():
            # this run's keepers live in the consolidated partition; its
            # kept set was frozen into the registry at compact time —
            # re-return the identical admitted rows, mutate nothing
            kept = (
                self._registry.read()
                .filter(F.col("run") == F.lit(run_id))  # partition-pruned
                .select(F.col("vid").alias(id_col))
            )
            return batch.join(kept, id_col, "left_semi")
        old = self.keepers().filter(F.col("run") != F.lit(run_id))
        batch_new = batch.join(
            old.select(F.col("vid").alias(id_col)), id_col, "left_anti"
        )
        assigned = ivf_assign(
            batch_new, self.centroids(), id_col=id_col, vec_col=vec_col
        )
        members = (
            batch_new.select(
                F.col(id_col).cast("long").alias("vid"),
                F.col(vec_col).cast("array<float>").alias("vec"),
            )
            .join(
                assigned.select(
                    F.col(id_col).cast("long").alias("vid"),
                    F.col("centroid_id").alias("cid"),
                ),
                "vid",
            )
            .localCheckpoint(eager=True)  # feeds touched-cid list + kernel
        )
        touched = [
            int(r["cid"])
            for r in members.select("cid").distinct().collect()  # O(touched)
        ]
        if not touched:
            return batch_new.limit(0)
        stored = (
            old.filter(F.col("cid").isin(touched))  # partition-pruned read
            .select("vid", "vec", "cid", F.lit(True).alias("is_old"))
        )
        both = members.select(
            "vid", "vec", "cid", F.lit(False).alias("is_old")
        ).unionByName(stored)

        import numpy as np
        import pandas as pd

        def leader_admit(pdf: pd.DataFrame) -> pd.DataFrame:
            olds = pdf[pdf["is_old"]]
            news = pdf[~pdf["is_old"]].sort_values("vid")
            mats = []
            for part in (olds, news):
                m = (
                    np.array(list(part["vec"]), dtype=np.float64)
                    if len(part)
                    else np.zeros((0, 1))
                )
                mats.append(m)
            def unitize(m):
                if m.size == 0:
                    return m, np.zeros(len(m), dtype=bool)
                norms = np.sqrt((m * m).sum(axis=1))
                ok = norms > 0.0
                return (
                    np.where(ok[:, None], m / np.where(ok, norms, 1.0)[:, None], 0.0),
                    ok,
                )
            # stored keepers: frozen leader set (zero-norm ones have no
            # defined cosine and can never suppress — same contract as
            # semantic_dedup)
            u_old, ok_old = unitize(mats[0])
            u_new, ok_new = unitize(mats[1])
            cite = [u_old[i] for i in range(len(u_old)) if ok_old[i]]
            vids = news["vid"].to_numpy()
            kept = np.zeros(len(news), dtype=bool)
            for j in range(len(news)):
                if ok_new[j] and cite:
                    cos = np.stack(cite) @ u_new[j]
                    if float(cos.max()) >= thr:
                        continue  # pruned by a stored/earlier keeper
                kept[j] = True
                if ok_new[j]:
                    cite.append(u_new[j])
            return pd.DataFrame(
                {
                    "vid": vids,
                    "cid": news["cid"].to_numpy(),
                    "kept": kept,
                }
            )

        decisions = both.groupBy("cid").applyInPandas(
            leader_admit, schema="vid long, cid long, kept boolean"
        )
        new_keepers = (
            members.join(
                decisions.filter(F.col("kept")).select("vid"), "vid"
            )
            .select("vid", "vec", "cid", F.lit(run_id).alias("run"))
            # the write replaces this run's own partitions, which the
            # replay lineage read — materialize first
            .localCheckpoint(eager=True)
        )
        (
            new_keepers.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cid", "run")
            .parquet(self._keepers_path)
        )
        return batch_new.join(
            new_keepers.select(F.col("vid").alias(id_col)), id_col
        )

    # -- retraction -----------------------------------------------------
    def remove(self, ids: DataFrame) -> list[int]:
        """Retract stored keepers (right-to-be-forgotten): rewrite only
        the ``(cid, run)`` partitions that hold the ids, and purge the
        compaction registry the same way — :func:`..compaction.
        retract_ids` (emptied partitions deleted FIRST, idempotent from
        any intermediate state; partially-touched partitions
        dynamic-overwrite). Returns the touched cluster ids (empty =
        none of the ids were stored keepers).

        Contract — deliberately WEAKER than ``NearDupLabels.remove``'s
        re-convergence: documents this keeper pruned were never stored
        (SemDeDup keeps no pruned set), so there is nothing to
        re-converge — the removed doc's data is gone from the artifact,
        and a formerly-pruned twin RESUBMITTED through
        :meth:`admit_batch` now re-evaluates against the surviving
        keepers (it may be admitted — the freed-slot behavior the
        admit_batch docstring promises). Centroids are untouched: they
        are a frozen partition of the space, not per-doc state."""
        self._check_version()
        rm = id_set(ids, "vid")
        touched = retract_ids(
            self._keepers, rm, "vid", "SemanticDedupIndex.remove"
        )
        # and from the registry, so a replay of a folded run cannot
        # resurrect a removed document
        retract_ids(self._registry, rm, "vid", "SemanticDedupIndex.remove")
        return sorted({c for c, _ in touched})

    # -- maintenance ------------------------------------------------------
    def live_run_count(self) -> int:
        """Number of LIVE keeper ``run=`` partition names on disk
        (distinct names minus committed-folded) — the quantity the
        :func:`...operators.compaction.maybe_autocompact` policy
        thresholds. One StateFS listing pass, no Spark job."""
        return live_run_count(self._clog, [self._keepers_path], nested=True)

    def compact(self, tag: str) -> dict:
        """Fold every live keeper run partition into ONE consolidated
        ``run=<tag>`` partition per cluster (``tag`` must start with
        ``compact-``; a crashed compact retried with the SAME tag
        resumes). Keeper reads, admissions, and removals are
        byte-identical before and after; a folded run's replay is
        answered from the per-run kept-id registry. Protocol and
        crash-window analysis: :mod:`..operators.compaction`.
        Single-writer: quiesce admissions first."""
        validate_compact_tag(tag, "SemanticDedupIndex.compact")
        self._check_version()
        return fold_runs(
            self._clog, tag, [self._keepers],
            registry=(self._runs_docs_path, "vid"),
        )


class IncrementalSemanticDedup:
    """Cross-run SEMANTIC admission over a persisted
    :class:`SemanticDedupIndex` — the fourth incremental-admission
    variant (exact: ``dedup.IncrementalDedup``; text near-dup:
    ``dedup.IncrementalLsh``; embedding: ``IncrementalEmbeddingDedup``)
    — closing the tier that previously had no streaming leg: new docs
    assign to the frozen k-means centroids and greedy-prune against
    each cluster's STORED keepers, never re-running the corpus pass.
    Drops into :func:`...streaming.admission.run_admission_stream`
    unchanged (``admit(batch, run_id=)``); the first batch bootstraps
    the index (build on the batch), like the embedding admitter."""

    def __init__(
        self,
        spark,
        state_dir: str,
        threshold: float = 0.85,
        k: int = 64,
        iters: int = 2,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        max_live_runs: "int | None" = None,
    ) -> None:
        self.index = SemanticDedupIndex(spark, state_dir)
        self.state_dir = state_dir
        self.threshold = threshold
        self.k = k
        self.iters = iters
        self.id_col = id_col
        self.vec_col = vec_col
        #: auto-compaction policy (r10): when set, each admission
        #: commit folds the keeper run partitions under
        #: ``compact-auto-<run_id>`` once the live count exceeds this.
        #: See :func:`..compaction.maybe_autocompact`.
        self.max_live_runs = max_live_runs

    def admit(self, batch: DataFrame, run_id: str | None = None) -> DataFrame:
        if self.max_live_runs is not None and run_id is None:
            # fail BEFORE the admission commit (the substring twin's
            # discipline): the policy's fold tag derives from run_id
            raise ValueError(
                "IncrementalSemanticDedup.admit: max_live_runs is set "
                "but run_id is None — auto-compaction needs the "
                "per-epoch run id for its fold tag"
            )
        rid = run_id if run_id is not None else "adhoc"
        if not self.index.exists():
            batch = batch.localCheckpoint(eager=True)  # read by build + below
            # bootstrap keepers MUST carry this epoch's run_id: if the
            # stream crashes after this build but before the sink
            # commit, the re-delivered epoch-0 goes through admit_batch
            # (the index now exists), which recognizes same-run keepers
            # as its own crashed attempt and re-derives the identical
            # admitted set. Anonymous 'build'-tagged keepers would be
            # anti-joined away and the replay would admit NOTHING —
            # losing every epoch-0 document through the overwrite sink.
            idx = SemanticDedupIndex.build(
                batch,
                self.state_dir,
                id_col=self.id_col,
                vec_col=self.vec_col,
                threshold=self.threshold,
                k=self.k,
                iters=self.iters,
                run_id=rid,
            )
            kept = idx.keepers().select(F.col("vid").alias(self.id_col))
            # no policy check on the bootstrap: it creates exactly one
            # run partition, necessarily <= any legal max_live_runs
            return batch.join(kept, self.id_col)
        admitted = self.index.admit_batch(batch, rid)
        if self.max_live_runs is not None:
            # admit_batch's return lazily joins the keeper partitions
            # the policy's fold would delete — materialize FIRST
            # (batch-sized, executor-side) so the auto-fold cannot
            # invalidate the rows the caller is about to sink
            admitted = admitted.localCheckpoint(eager=True)
        maybe_autocompact(self.index, run_id, self.max_live_runs)
        return admitted


class IvfIndex:
    """Persisted IVF index: the amortization path for repeated ANN
    queries that :func:`ivf_topk` (which re-runs k-means per call) only
    documents.

    ``build`` runs k-means + assignment ONCE and lands two artifacts
    under ``path``:

    - ``centroids/`` — the O(k) centroid table;
    - ``buckets/`` — the corpus **partitioned by centroid_id**
      (``partitionBy`` parquet), so at query time the broadcast probe
      join triggers dynamic partition pruning and the scan touches
      ~``nprobe/num_centroids`` of the files instead of the whole
      corpus. At 100 TB this is the difference between an index probe
      and a full-table pass.

    ``query`` reuses the exact same probe/score tail as the on-the-fly
    path, so recall characteristics are identical for a given centroid
    set.
    """

    CENTROIDS = "centroids"
    BUCKETS = "buckets"
    PQ_CODEBOOK = "pq_codebook"

    def __init__(
        self,
        spark,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        from dataeng_azure_spotify_spark.statefs import statefs_for

        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.vec_col = vec_col
        self._centroids_path = os.path.join(path, self.CENTROIDS)
        self._buckets_path = os.path.join(path, self.BUCKETS)
        self._pq_codebook_path = os.path.join(path, self.PQ_CODEBOOK)
        self.fs = statefs_for(path, spark)  # StateFS (r11)

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        num_centroids: int = 64,
        kmeans_iters: int = 1,
        run_id: str | None = None,
    ) -> "IvfIndex":
        idx = cls(corpus.sparkSession, path, id_col, vec_col)
        centroids = kmeans_centroids(
            corpus, id_col, vec_col, k=num_centroids, iters=kmeans_iters
        )
        assignment = ivf_assign(corpus, centroids, id_col, vec_col)
        (
            corpus.join(assignment, on=id_col)
            .withColumn("run_id", F.lit(run_id).cast("string"))
            .write.mode("overwrite")
            .partitionBy("centroid_id")
            .parquet(idx._buckets_path)
        )
        centroids.write.mode("overwrite").parquet(idx._centroids_path)
        return idx

    @classmethod
    def load(
        cls,
        spark,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IvfIndex":
        return cls(spark, path, id_col, vec_col)

    def exists(self) -> bool:
        return self.fs.exists(self._centroids_path)

    def centroids(self) -> DataFrame:
        return self.spark.read.parquet(self._centroids_path)

    def buckets(self) -> DataFrame:
        df = self.spark.read.option("mergeSchema", "true").parquet(
            self._buckets_path
        )
        if "run_id" not in df.columns:  # index built before run tracking
            df = df.withColumn("run_id", F.lit(None).cast("string"))
        return df

    # -- PQ codes leg (IVF-PQ / FAISS IVFADC) --------------------------
    def has_codes(self) -> bool:
        return self.fs.exists(self._pq_codebook_path)

    def pq_codebook(self) -> DataFrame:
        return self.spark.read.parquet(self._pq_codebook_path)

    def add_codes(
        self,
        m: int = 4,
        nbits: int = 4,
        iters: int = 8,
        train_n: int = 16384,
    ) -> None:
        """Enable the IVF-PQ leg: train a residual PQ codebook
        (``unit(vec) − unit(own centroid)`` on a bounded deterministic
        sample) and rewrite the bucket table with a ``codes`` column.

        Codes live as a COLUMN of the bucket rows, not a second
        artifact: one write path means append/remove/compact/replay
        semantics are untouched (whole-row operations carry the column
        for free, with no cross-artifact crash window), while
        Parquet's columnar layout means the ADC probe reads ONLY
        (centroid_id, id, codes) — 16-byte scans with the floats left
        on disk for exact re-rank and maintenance (ReadSchema pinned
        in tests/test_pq.py). The migration is one corpus-linear
        encode + full bucket rewrite; single-writer like every other
        maintenance method. Raises if codes are already enabled
        (re-encoding under a silently different codebook would corrupt
        every committed code)."""
        from dataeng_azure_spotify_spark.operators.pq import (
            residual_codebook,
        )

        if self.has_codes():
            raise ValueError(
                "IvfIndex.add_codes: codes already enabled; build a new "
                "index to change PQ parameters"
            )
        cb = residual_codebook(
            self.buckets(),
            self.centroids(),
            self.id_col,
            self.vec_col,
            m=m,
            nbits=nbits,
            iters=iters,
            train_n=train_n,
        )
        # codebook lands LAST: its existence is the has_codes() commit
        # marker, so a crash mid-rewrite leaves a no-codes index that a
        # retry rewrites again (the bucket rewrite is idempotent)
        coded = self._with_codes(self.buckets(), self.centroids(), cb)
        (
            coded.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("centroid_id")
            .parquet(self._buckets_path)
        )
        cb.write.mode("overwrite").parquet(self._pq_codebook_path)

    def _with_codes(
        self, rows: DataFrame, centroids: DataFrame, codebook: DataFrame
    ) -> DataFrame:
        """``rows`` (bucketed, with ``centroid_id``) plus a fresh
        ``codes`` column — residual-encoded against ``centroids`` with
        ``codebook``; materialized (the rewrite callers replace the
        very files this lineage reads)."""
        from dataeng_azure_spotify_spark.operators.pq import (
            residual_encode,
        )

        codes = residual_encode(
            rows, centroids, codebook, self.id_col, self.vec_col
        ).select(self.id_col, "codes")
        base = rows.drop("codes") if "codes" in rows.columns else rows
        return base.join(codes, self.id_col).localCheckpoint(eager=True)

    def query_adc(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 12,
        rerank: int | None = None,
        exclude_self: bool = True,
    ) -> DataFrame:
        """Probe the index scoring PQ codes via ADC instead of full
        floats (requires :meth:`add_codes`): centroid routing + per-
        query LUT + per-(query, centroid) bias over the probed
        buckets' (id, codes) columns only; optional exact re-rank of
        the ADC top-``rerank`` shortlist against the stored floats.
        The scan the 100 TB index actually runs — 16 bytes/vector."""
        from dataeng_azure_spotify_spark.operators.pq import adc_probe_topk

        if not self.has_codes():
            raise ValueError(
                "IvfIndex.query_adc: no PQ codes — call add_codes() first"
            )
        b = self.buckets()
        return adc_probe_topk(
            queries,
            self.centroids(),
            b.select("centroid_id", self.id_col, "codes"),
            self.pq_codebook(),
            k=k,
            nprobe=nprobe,
            id_col=self.id_col,
            vec_col=self.vec_col,
            rerank_vectors=(
                b.select(self.id_col, self.vec_col)
                if rerank is not None
                else None
            ),
            rerank=rerank,
            exclude_self=exclude_self,
        )

    def append(self, vectors: DataFrame, run_id: str | None = None) -> None:
        """Assign new vectors to the EXISTING centroids and append their
        bucket rows. Centroids stay fixed — the standard IVF ingest
        trade (assignment drifts as the distribution moves; rebuild
        periodically to re-balance). Append lands only the new rows'
        partitions; committed buckets are untouched. ``run_id`` tags the
        rows with the admitting run for exactly-once streaming replays
        (see :class:`IncrementalEmbeddingDedup`). With the PQ leg
        enabled, the new rows' residual codes are encoded inline
        against the frozen codebook — still ONE write, so the
        exactly-once replay story gains no new crash window."""
        assignment = ivf_assign(
            vectors, self.centroids(), self.id_col, self.vec_col
        )
        rows = vectors.join(assignment, on=self.id_col).withColumn(
            "run_id", F.lit(run_id).cast("string")
        )
        if self.has_codes():
            rows = self._with_codes(
                rows, self.centroids(), self.pq_codebook()
            )
        (
            rows.write.mode("append")
            .partitionBy("centroid_id")
            .parquet(self._buckets_path)
        )

    def remove(self, ids: DataFrame) -> list[int]:
        """Retract vectors from the index (right-to-be-forgotten):
        bucket-partition rewrite restricted to the centroids that hold
        the ids — committed balanced buckets are never rewritten.
        ``ids``'s first column is the vector id; returns the touched
        centroid ids (empty = none of the ids were indexed).

        Centroids stay (a zero-row bucket is a legal state — probes
        find nothing there, ``rebalance`` re-splits if ingest later
        refills it); drift/size stats are computed on read, so the
        "count refresh" is automatic. Crash-safe without a run marker
        because removal is idempotent from any intermediate state:
        fully-emptied partitions are deleted FIRST (idempotent rmtree),
        then the partially-touched partitions dynamic-overwrite — a
        replay sees only the ids still present and redoes exactly the
        remaining work. Cost: one 2-column scan to locate the ids
        (buckets are partitioned by centroid, not id — the same
        locality trade the label table makes) + a rewrite of touched
        partitions only (:func:`..compaction.retract_ids`)."""
        touched = retract_ids(
            PartitionedTable(self._buckets_path, self.buckets, ("centroid_id",)),
            id_set(ids, self.id_col, cast=None),
            self.id_col,
            "IvfIndex.remove",
        )
        return [c for (c,) in touched]

    # -- maintenance ------------------------------------------------------
    def compact(self) -> dict:
        """Rewrite every bucket partition down to one file. Unlike the
        run-partitioned artifacts, IvfIndex APPENDS files inside its
        ``centroid_id=`` partitions (one parquet file per admitting run
        per touched bucket), so at streaming cadence each probe's file
        listing grows without bound; the partition LAYOUT never changes
        and ``run_id`` is a row column, so compaction preserves it
        verbatim — replay (``IncrementalEmbeddingDedup``'s
        run-attributed union) and ``remove`` semantics are untouched,
        and no tag/marker protocol is needed. Rows are materialized
        before the dynamic overwrite (the rebalance read-what-you-
        replace discipline); a crash leaves whole partitions either old
        or new with identical rows, and a retry converges. Returns the
        data-file count before/after. Single-writer, like every other
        maintenance method."""
        import os

        def _n_files() -> int:
            n = 0
            for root, _dirs, files in os.walk(self._buckets_path):
                n += sum(
                    1
                    for f in files
                    if f.endswith(".parquet") and not f.startswith(".")
                )
            return n

        files_before = _n_files()
        rows = self.buckets().localCheckpoint(eager=True)
        (
            rows.repartition("centroid_id")  # one task -> one file per dir
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("centroid_id")
            .parquet(self._buckets_path)
        )
        rows.unpersist()
        return {
            "files_before": files_before,
            "files_after": _n_files(),
        }

    def query(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 12,
        exclude_self: bool = True,
    ) -> DataFrame:
        """Probe the index. ``exclude_self=False`` when query ids live
        in a DIFFERENT namespace than the indexed corpus ids — with the
        default, a coincidental id collision would silently drop that
        corpus vector from the query's scoring."""
        bucketed = self.buckets().withColumn(
            "centroid_id", F.col("centroid_id").cast("long")
        )
        return _probe_and_score(
            queries,
            self.centroids(),
            bucketed,
            self.id_col,
            self.vec_col,
            k,
            nprobe,
            exclude_self=exclude_self,
        )

    def drift_stats(self) -> DataFrame:
        """Per-bucket drift metrics — ONE aggregate pass over the index
        parquet: ``(centroid_id, n, mean_residual)`` where residual is
        ``1 − cosine(vector, own centroid)``. Appends assign against
        FIXED centroids, so skewed ingest silently grows hot buckets and
        raises residuals (vectors far from their centroid), degrading
        probe pruning; this is the metric that says when
        :meth:`rebalance` is due."""
        cent = self.centroids().select(
            F.col("centroid_id").cast("long").alias("centroid_id"),
            F.col(self.vec_col).alias("c_vec"),
        )
        b = self.buckets().withColumn(
            "centroid_id", F.col("centroid_id").cast("long")
        )
        scored = b.join(F.broadcast(cent), on="centroid_id").withColumn(
            "res",
            F.lit(1.0)
            - _dot_double(F.col(self.vec_col), F.col("c_vec"))
            / (_norm(F.col(self.vec_col)) * _norm(F.col("c_vec"))),
        )
        return scored.groupBy("centroid_id").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.avg("res").alias("mean_residual"),
        )

    def drift_summary(self, log=None, run_id: str = "ivf-drift") -> dict:
        """Scalar drift summary: bucket-count, size imbalance
        (max/mean), and corpus-mean residual. O(k) driver data only.
        Pass an :class:`...observability.RunLog` to record the check as
        a run-log row (status ``Drifted`` when imbalance > 2 — the
        default :meth:`rebalance` trigger — else ``Balanced``), which
        plugs into the same alert-query surface as every other
        component."""
        import datetime as dt

        start = dt.datetime.utcnow()
        row = self.drift_stats().agg(
            F.count(F.lit(1)).alias("k"),
            F.max("n").alias("max_n"),
            F.avg("n").alias("mean_n"),
            (F.sum(F.col("mean_residual") * F.col("n")) / F.sum("n")).alias(
                "mean_res"
            ),
        ).first()
        out = {
            "n_buckets": int(row["k"]),
            "imbalance": float(row["max_n"]) / float(row["mean_n"]),
            "mean_residual": float(row["mean_res"]),
        }
        if log is not None:
            status = "Drifted" if out["imbalance"] > 2.0 else "Balanced"
            log.record(
                run_id,
                "ivf_drift",
                status,
                start,
                dt.datetime.utcnow(),
                rows_processed=out["n_buckets"],
            )
        return out

    def rebalance(self, max_factor: float = 2.0, kmeans_iters: int = 1) -> list[int]:
        """Split oversized buckets in place; returns the centroid ids
        that were split (empty = no-op).

        Guarantee: each split bucket's rows redistribute among its
        sub-centroids (no sub-bucket can exceed the original), and
        committed balanced buckets are untouched — so the MAX bucket
        size never grows and the split buckets shrink as far as the
        data allows. When the hot mass is one NEAR-DUPLICATE cluster,
        k-means cannot separate it and most of it stays together (the
        max/mean imbalance ratio may even rise as k grows) — that mass
        is the dedup tier's job (`IncrementalEmbeddingDedup` /
        `semantic_dedup`), not re-clustering's.

        Appends never re-cluster, so a skewed ingest concentrates in a
        few buckets and probe recall/pruning degrade silently. This
        re-runs clustering ONLY for buckets larger than ``max_factor ×
        mean``: each is k-means split into ⌈n/mean⌉ sub-centroids (the
        first reuses the old centroid id, so a dynamic partition
        overwrite replaces exactly the split partitions — committed
        balanced buckets are never rewritten), rows are reassigned only
        among their own bucket's sub-centroids, and the centroid table
        swaps the split rows for the sub-centroids. Cost: one O(k) size
        aggregate + one pass over the OVERSIZED rows only — never a
        full-corpus re-cluster. Driver traffic is O(k) (bucket sizes,
        centroid rows); corpus vectors stay executor-side.
        """
        sizes = {
            int(r["centroid_id"]): int(r["n"])
            for r in self.buckets()
            .groupBy("centroid_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .toLocalIterator()  # O(k) rows — the centroid-count bound
        }
        if not sizes:
            return []
        mean = sum(sizes.values()) / len(sizes)
        oversized = sorted(
            cid for cid, n in sizes.items() if n > max_factor * mean
        )
        if not oversized:
            return []
        # fresh ids must clear the CENTROID table's ids, not just the
        # bucket table's: a centroid that currently owns zero bucket
        # rows still exists in centroids/ and a collision would leave
        # two centroid rows sharing one id (double-counted drift stats,
        # ambiguous probes)
        all_cids = [
            int(r["centroid_id"]) for r in self.centroids()
            .select("centroid_id").toLocalIterator()  # O(k)
        ]
        next_id = max(all_cids + list(sizes)) + 1
        spark = self.spark
        new_cent_rows = []  # (old_id -> list of (new_id, vector)) via DF
        reassigned = None
        for cid in oversized:
            rows = self.buckets().filter(F.col("centroid_id") == cid).drop(
                "centroid_id"
            )
            m = max(2, int(-(-sizes[cid] // max(1.0, mean))))
            sub = kmeans_centroids(
                rows, self.id_col, self.vec_col, k=m, iters=kmeans_iters
            )
            # kmeans_centroids ids are SEED VECTOR ids (not 0..m-1);
            # sort for a deterministic local order, then map to global
            # ids (old bucket id for the first, fresh ids after) — O(m)
            # driver rows
            local = sorted(
                (int(r["centroid_id"]), r[self.vec_col])
                for r in sub.toLocalIterator()
            )
            id_map = {}
            for j, (lid, vec) in enumerate(local):
                gid = cid if j == 0 else next_id
                if j > 0:
                    next_id += 1
                id_map[lid] = gid
                new_cent_rows.append((gid, vec))
            mapping = spark.createDataFrame(
                [(lid, gid) for lid, gid in id_map.items()],
                "centroid_id long, new_id long",
            )
            assign = ivf_assign(rows, sub, self.id_col, self.vec_col)
            moved = (
                rows.join(assign, on=self.id_col)
                .join(F.broadcast(mapping), on="centroid_id")
                .drop("centroid_id")
                .withColumnRenamed("new_id", "centroid_id")
            )
            reassigned = (
                moved if reassigned is None else reassigned.unionByName(moved)
            )
        kept = self.centroids().filter(
            ~F.col("centroid_id").isin([int(c) for c in oversized])
        )
        updated = kept.unionByName(
            spark.createDataFrame(
                new_cent_rows, f"centroid_id long, {self.vec_col} array<float>"
            )
        ).localCheckpoint(eager=True)  # materialize before overwriting source
        if self.has_codes():
            # split rows changed centroid (and the first sub-bucket kept
            # its id but got a NEW centroid vector), so their residual
            # codes are stale — re-encode exactly the rewritten rows
            # against the updated centroids; _with_codes materializes
            reassigned = self._with_codes(
                reassigned, updated, self.pq_codebook()
            )
        else:
            # `reassigned`'s lineage lazily reads the very bucket files
            # the overwrite below replaces — materialize it FIRST
            # (executor-side blocks, GC-reclaimed) so no task can
            # re-read a replaced file after a speculative retry or
            # driver-side re-execution
            reassigned = reassigned.localCheckpoint(eager=True)
        # dynamic overwrite: only the partitions present in `reassigned`
        # (= the split buckets and their new siblings) are replaced.
        # Scoped as a WRITER option, not a session-conf flip — a
        # session-wide set would leak dynamic-overwrite semantics into
        # queries planned concurrently on other threads.
        (
            reassigned.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("centroid_id")
            .parquet(self._buckets_path)
        )
        updated.write.mode("overwrite").parquet(self._centroids_path)
        return oversized


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    qmax: int = 127,
) -> DataFrame:
    """Symmetric per-vector int8 quantization for embedding storage.

    Each vector scales by its own max-abs: ``q_i = floor(x_i * qmax /
    maxabs + 0.5)`` with reconstruction ``x_i ~ q_i * scale`` where
    ``scale = maxabs / qmax``. At 100 TB this is the 4x storage/IO
    reduction step before an ANN index build; dequantized recall loss is
    the standard int8 trade.

    Determinism contract (DuckDB oracle): floor(x + 0.5) instead of
    round() — floor of an identical IEEE double is identical everywhere,
    while round()'s half-tie mode is engine-specific. Zero vectors emit
    scale 0 and all-zero codes. Row-parallel, no shuffle.
    """
    maxabs = F.array_max(
        F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
    )
    qvec = F.when(
        maxabs == 0.0,
        F.transform(F.col(vec_col), lambda x: F.lit(0)),
    ).otherwise(
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(
                x.cast("double") * F.lit(qmax) / maxabs + F.lit(0.5)
            ).cast("int"),
        )
    )
    return df.select(
        F.col(id_col),
        (maxabs / F.lit(float(qmax))).alias("scale"),
        qvec.alias("qvec"),
    )


class IncrementalEmbeddingDedup:
    """Cross-run embedding near-dup admission over a persisted
    :class:`IvfIndex` — the third incremental-admission variant
    (exact: ``dedup.IncrementalDedup``; text near-dup:
    ``dedup.IncrementalLsh``).

    Per batch: (1) in-batch rejection — any vector cosine-similar to a
    smaller-id batch vector is dropped (pairwise greedy, the
    :func:`cosine_neardup_pairs` blocked GEMM); (2) history rejection —
    survivors probe the index (top-1, ``nprobe`` buckets) and are
    dropped when their best historical match clears the threshold;
    (3) survivors append to the index under the FIXED centroid set.

    Already-admitted ids are dropped outright (replay-safe under
    exactly-once retries); distinct ids reject on similarity. Recall
    against history is the IVF probe recall — raise ``nprobe`` for
    stricter admission. Deterministic end-to-end.
    """

    def __init__(
        self,
        spark,
        state_dir: str,
        threshold: float = 0.9,
        num_centroids: int = 64,
        nprobe: int = 8,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        self.index = IvfIndex(spark, state_dir, id_col, vec_col)
        self.state_dir = state_dir
        self.threshold = threshold
        self.num_centroids = num_centroids
        self.nprobe = nprobe
        self.id_col = id_col
        self.vec_col = vec_col

    def admit(self, batch: DataFrame, run_id: str | None = None) -> DataFrame:
        """Admit the near-dup-free slice of ``batch``; update the index.

        ``run_id``: exactly-once replay support — bucket rows carry the
        admitting run, and a replayed batch re-returns the rows this
        same run admitted (no index re-append), so an epoch-keyed
        overwrite sink reproduces its output. Same contract as
        :meth:`...operators.dedup.IncrementalDedup.admit`.
        """
        pairs = cosine_neardup_pairs(
            batch, self.id_col, self.vec_col, self.threshold
        )
        in_batch_reject = pairs.select(
            F.col(f"{self.id_col}_b").alias(self.id_col)
        ).distinct()
        survivors = batch.join(in_batch_reject, self.id_col, "left_anti")
        if not self.index.exists():
            # materialize BEFORE build: the index build executes the
            # blocked-GEMM in-batch dedup lineage once; returning the
            # lazy plan would make the caller's first action run that
            # whole O(n²/B·d) stage a second time (the sibling path
            # below checkpoints for the same reason)
            survivors = survivors.localCheckpoint(eager=True)
            IvfIndex.build(
                survivors,
                self.state_dir,
                self.id_col,
                self.vec_col,
                num_centroids=self.num_centroids,
                run_id=run_id,
            )
            return survivors
        prior = self.index.buckets()
        if run_id is not None:
            replayed = batch.join(
                prior.filter(F.col("run_id") == F.lit(run_id)).select(
                    self.id_col
                ),
                self.id_col,
                "left_semi",
            )
        # replay guard: ids already admitted are dropped outright (the
        # similarity probe excludes same-id matches, so an exact replay
        # would otherwise sail past it)
        survivors = survivors.join(
            prior.select(self.id_col), self.id_col, "left_anti"
        )
        hits = (
            self.index.query(survivors, k=1, nprobe=self.nprobe)
            .filter(F.col("cosine") >= self.threshold)
            .select(F.col("query_id").alias(self.id_col))
            .distinct()
        )
        survivors = survivors.join(hits, self.id_col, "left_anti")
        survivors = survivors.localCheckpoint(eager=True)
        self.index.append(survivors, run_id=run_id)
        if run_id is not None:
            return survivors.unionByName(replayed)
        return survivors


def jl_project(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_dim: int = 8,
    salt: str = "jl",
    dim: int | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss sign projection: reduce ``vec_col`` to
    ``out_dim`` dimensions with a deterministic ±1 projection matrix —
    the cheap distance-preserving shrink a 100 TB pipeline runs before
    brute-force rescoring or as the input to a coarser ANN index
    (Achlioptas 2003: random signs preserve pairwise distances in
    expectation like Gaussian projections).

    The "random" matrix is hash-derived — ``sign(i, j) = ±1`` by the
    parity of ``hash60(salt|i|j)`` — so the projection is reproducible
    across engines and runs with no stored matrix at all. Outputs
    ``y0..y{out_dim-1} = (Σ_i sign(i,j)·x_i) / sqrt(out_dim)``.

    Cross-engine determinism: per-element terms are ±(float→double)
    casts accumulated in DECIMAL (order-free, see :func:`_dot`); the
    double→decimal cast itself rounds at the 20th decimal digit with an
    engine-specific tie mode, so outputs are rounded to 12 dp (the
    :func:`_rank_topk` convention) and hash-match the DuckDB twin.

    Scale: pure per-row whole-stage-codegen expression — no shuffle, no
    explode, no UDF; O(d·out_dim) decimal adds per row. The sign matrix
    depends only on (i, j, salt); ``dim`` (when the vector width is
    known and fixed) inlines the d·out_dim md5 parities as ±1.0
    literals, bit-identical to the hash path (pinned by test). MEASURED
    at 64-d/out 8/5k rows the two paths time the same — the decimal
    fold, not the hashing, is the cost — so ``dim`` is an option for
    much wider matrices, not a default. (A fully unrolled nested-add
    variant was measured 12× SLOWER: deep expression nesting defeats
    codegen; keep the higher-order fold shape.)
    """
    import hashlib

    from dataeng_azure_spotify_spark.functions.text import hash60

    def _sign_py(i: int, j: int) -> int:
        # hash60 twin: first 15 md5 hex chars as int, parity as sign
        h = int(
            hashlib.md5(f"{salt}|{i}|{j}".encode()).hexdigest()[:15], 16
        )
        return 1 if h % 2 == 0 else -1

    def out_col(j: int):
        def term(x, i):
            parity = F.pmod(
                hash60(
                    F.concat_ws(
                        "|", F.lit(salt), i.cast("string"), F.lit(str(j))
                    )
                ),
                F.lit(2),
            )
            xd = x.cast("double")
            return (
                F.when(parity == 0, xd).otherwise(-xd).cast(DOT_DECIMAL)
            )

        hash_fold = F.aggregate(
            F.transform(F.col(vec_col), term),
            F.lit(0).cast(DOT_DECIMAL),
            lambda acc, x: (acc + x).cast(DOT_DECIMAL),
        ).cast("double")
        if dim is not None:
            # literal ±1.0 array + the SAME higher-order fold as the
            # hash path: multiplying a double by ±1.0 is bit-identical
            # to conditional negation, and keeping the zip_with/
            # aggregate shape matters — an unrolled 64-deep nested
            # (acc + x).cast chain was measured 12× SLOWER than the
            # per-element-md5 original (deep expression nesting defeats
            # codegen; the md5s were never the bottleneck)
            signs = F.array(
                *[F.lit(float(_sign_py(i, j))) for i in range(dim)]
            )
            prods = F.zip_with(
                F.col(vec_col),
                signs,
                lambda x, sg: (x.cast("double") * sg).cast(DOT_DECIMAL),
            )
            lit_fold = F.aggregate(
                prods,
                F.lit(0).cast(DOT_DECIMAL),
                lambda acc, x: (acc + x).cast(DOT_DECIMAL),
            ).cast("double")
            # width guard: zip_with NULL-pads the shorter side, so a
            # vector whose length differs from the declared `dim` would
            # silently project to NULL — fall back to the (bit-identical)
            # hash fold for such rows instead
            s = F.when(F.size(F.col(vec_col)) == dim, lit_fold).otherwise(
                hash_fold
            )
        else:
            s = hash_fold
        return F.round(s / F.sqrt(F.lit(float(out_dim))), 12).alias(f"y{j}")

    # empty/NULL vectors are excluded (symmetric with the unnest-based
    # SQL twin, which has no rows to group for them — an unfiltered
    # Spark side would emit all-zero rows the oracle lacks)
    return df.filter(F.size(F.col(vec_col)) > 0).select(
        F.col(id_col), *[out_col(j) for j in range(out_dim)]
    )
