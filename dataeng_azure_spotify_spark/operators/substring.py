"""Substring-level exact deduplication — the span tier of the dedup
family (Lee et al. 2022, "Deduplicating Training Data Makes Language
Models Better", ExactSubstr): find ≥k-token runs that occur MORE THAN
ONCE anywhere in the corpus (license boilerplate, repeated headers,
templated navigation — inside otherwise-unique documents), and report
them as per-document spans and coverage statistics.

This completes the tier ladder: doc-level exact (``dedup.py``),
n-gram/MinHash/SimHash near-dup (``dedup.py``), embedding/semantic
(``similarity.py``), and now sub-document spans. It differs from
:func:`..curation.strip_shared_boilerplate` in two load-bearing ways:
duplication is counted by TOTAL OCCURRENCE (a gram repeated twice
within one document is a duplicated span — Lee et al.'s definition;
boilerplate needs ≥min_docs DISTINCT docs), and the output is span
STRUCTURE (maximal merged intervals, lengths, coverage fraction) —
the signals a curation pipeline thresholds on — not a rewritten text.

Distributed formulation (no suffix array): every ≥k-token duplicated
substring is exactly a maximal run of duplicated k-grams, so

    1. explode each doc into its k-gram table (doc, pos, g) —
       one gram per token position, g = hash60 of the gram text;
    2. mark grams whose corpus-wide occurrence count ≥ 2 — a count
       aggregation + an equi-join back on ``g`` (the sorted-gram-
       table/adjacent-duplicate detection, expressed as the shuffle
       Catalyst/AQE can skew-split; the join's gram-side exchange
       reuses the aggregation's);
    3. per doc, merge duplicated positions into maximal intervals
       [pos, pos+k) with one sort window (spans merge when the gap
       between consecutive duplicated starts is ≤ k).

Cost is linear in corpus token count: the gram table has one row per
token position, shuffled once on the 60-bit gram key; steps 3+ shuffle
only duplicated positions on doc id. Nothing is pairwise — a gram
occurring a million times contributes a million (doc, pos) rows, not
10^12 pairs — which is what makes this tier safe where the naive
"emit (doc_a, doc_b, span) pairs" formulation is quadratic in a
boilerplate gram's document frequency. Candidate-volume linearity at
1×/10×/100× is measured in docs/SCALE_DESIGN.md.

Reference parity note: the reference repo has no substring tier (its
dedup surface is doc-level DISTINCT/dropDuplicates in the DLT silver
notebooks, e.g. local_spotify_dab/src/silver/Silver_Dimensions.py);
this module is part of the beyond-reference LLM-pipeline surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dataeng_azure_spotify_spark.functions.text import hash60, tokens_col
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
from .dedup import _spread


def kgram_position_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """(doc, pos, g): one row per token position 0 ≤ pos ≤ n_tokens−k,
    ``g`` = hash60 of the k-gram starting there. Docs with < k tokens
    contribute nothing (no k-gram → can never hold a duplicated span).
    The tokenizer runs ONCE per doc into a materialized column; grams
    are built off the attribute (expressions inside lambda bodies are
    not CSE'd — see dedup.shingles_col)."""
    toks = F.col("__toks")
    idx = F.sequence(F.lit(0), F.size(toks) - k)
    gram_structs = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("pos"),
            hash60(F.array_join(F.slice(toks, i + 1, k), " ")).alias("g"),
        ),
    )
    return (
        _spread(df)
        .select(F.col(id_col).alias("doc"), tokens_col(text_col).alias("__toks"))
        .filter(F.size(toks) >= k)
        .select("doc", F.explode(gram_structs).alias("pg"))
        .select("doc", F.col("pg.pos").alias("pos"), F.col("pg.g").alias("g"))
    )


def _dup_positions(
    df: DataFrame, text_col: str, id_col: str, k: int, min_count: int
) -> DataFrame:
    """(doc, pos) of every k-gram whose corpus-wide occurrence count
    (by multiplicity — within-doc repeats count) is ≥ ``min_count``.
    One gram-table materialization: the gram table feeds BOTH the
    count aggregation and the join probe side, and exchange reuse does
    not fire across the two subtrees (r14 plan audit,
    plans/r14/substring_dup_spans_before.txt: the scan → explode →
    per-gram md5 chain appears twice, nodes 1-7 and 8-17), so the
    corpus tokenize + hash ran twice per query — one lazy checkpoint
    cuts it to once (guide §3.3, the r13 tfidf/bm25/ngram-LM fix).
    AQE skew-splits a hot boilerplate gram's join partition (a Window
    count over ``partition by g`` would buffer the whole hot partition
    on one task instead)."""
    grams = kgram_position_table(df, text_col, id_col, k).localCheckpoint(
        eager=False
    )
    dup_g = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("g")
    )
    return grams.join(dup_g, "g").select("doc", "pos")


def _merge_positions_to_spans(dup: DataFrame, k: int) -> DataFrame:
    """(doc, span_start, span_len, n_grams) from duplicated k-gram
    start positions (doc, pos) — the interval-union window shared by
    the batch operator and the incremental index (so the two can never
    disagree on what a span is). Two starts q < q' merge when
    q' − q ≤ k (their [q, q+k) windows overlap or touch)."""
    wdoc = Window.partitionBy("doc").orderBy("pos")
    wrun = (
        Window.partitionBy("doc")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = dup.withColumn(
        "__new",
        F.when(
            F.lag("pos").over(wdoc).isNull()
            | (F.col("pos") - F.lag("pos").over(wdoc) > k),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("__span", F.sum("__new").over(wrun))
    return marked.groupBy("doc", "__span").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + F.lit(k) - F.min("pos")).cast("long").alias("span_len"),
        F.count(F.lit(1)).cast("long").alias("n_grams"),
    )


def _span_coverage_stats(
    spans: DataFrame, base: DataFrame, id_col: str
) -> DataFrame:
    """Assemble the per-document coverage row (every doc of ``base``,
    zeros when nothing is duplicated) from merged spans — shared by
    :func:`dup_span_stats` and the incremental index's admission
    decision. ``base`` must carry (id_col, n_tokens)."""
    stats = spans.groupBy("doc").agg(
        F.sum("n_grams").cast("long").alias("n_dup_positions"),
        F.sum("span_len").cast("long").alias("covered_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.max("span_len").cast("long").alias("max_span_len"),
    ).withColumnRenamed("doc", id_col)
    joined = base.join(stats, id_col, "left")
    zero = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)  # noqa: E731
    return joined.select(
        id_col,
        "n_tokens",
        zero("n_dup_positions"),
        zero("covered_tokens"),
        zero("n_spans"),
        zero("max_span_len"),
        F.when(F.col("n_tokens") == 0, F.lit(0.0))
        .otherwise(
            F.coalesce(F.col("covered_tokens"), F.lit(0)).cast("double")
            / F.col("n_tokens").cast("double")
        )
        .alias("dup_token_frac"),
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Maximal duplicated spans per document: merged intervals of
    duplicated k-gram starts. Two duplicated starts q < q' belong to
    the same span when q' − q ≤ k (their [q, q+k) windows overlap or
    touch), so a span covers tokens [span_start, span_start+span_len).

    Returns (``id_col``, span_start, span_len, n_grams) — n_grams is
    the number of duplicated k-gram positions merged into the span
    (span_len − k + 1 iff every interior position is duplicated; a
    smaller value means the span has non-duplicated gram gaps ≤ k
    bridged by overlap). Deterministic, no RNG.

    Scale: the heavy stage is the gram-table shuffle in
    :func:`_dup_positions`; span merging shuffles only (doc, pos) rows
    of duplicated grams on doc id and windows within each doc."""
    dup = _dup_positions(df, text_col, id_col, k, min_count)
    return _merge_positions_to_spans(dup, k).select(
        F.col("doc").alias(id_col), "span_start", "span_len", "n_grams"
    )


def dup_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Per-document duplicated-span coverage — the thresholding signal
    (Lee et al. drop or trim documents whose duplicated fraction is
    high): (``id_col``, n_tokens, n_dup_positions, covered_tokens,
    n_spans, max_span_len, dup_token_frac) for EVERY input document
    (zeros when nothing is duplicated or the doc has < k tokens).

    ``covered_tokens`` is the exact size of the union of the [q, q+k)
    intervals (= Σ span_len); ``dup_token_frac`` is the IEEE division
    of the two exact counts — identical in every engine."""
    dup = _dup_positions(df, text_col, id_col, k, min_count)
    spans = _merge_positions_to_spans(dup, k)
    base = df.select(
        F.col(id_col),
        # coalesce: NULL text is 0 tokens, never size(NULL) = -1
        F.size(
            F.coalesce(
                tokens_col(text_col), F.array().cast("array<string>")
            )
        )
        .cast("long")
        .alias("n_tokens"),
    )
    return _span_coverage_stats(spans, base, id_col)


def _excise_spans(
    base: DataFrame, spans: DataFrame, id_col: str
) -> DataFrame:
    """(``id_col``, n_tokens, removed_tokens, text_clean) from a token
    table ``base`` (id_col, t array<string>) and merged spans (doc,
    span_start, span_len) — the rewrite application shared by the
    batch operator and :meth:`SubstringDupIndex.rewrite` (so the two
    can never disagree on how a span is removed). One per-doc
    span-array join + a JVM index-lambda array filter; no UDF.
    NULL token arrays (NULL text) count as empty — 0 tokens, 0
    removed, '' — honoring the every-document-passes-through
    contract (size(NULL) would otherwise report -1)."""
    base = base.withColumn(
        "t", F.coalesce(F.col("t"), F.array().cast("array<string>"))
    )
    sp_arr = spans.groupBy("doc").agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"),
                (F.col("span_start") + F.col("span_len")).alias("e"),
            )
        ).alias("sp")
    )
    joined = base.join(
        sp_arr, base[id_col] == sp_arr["doc"], "left"
    ).drop("doc")
    sp = F.coalesce(
        F.col("sp"), F.array().cast("array<struct<s:long,e:long>>")
    )
    kept = F.filter(
        F.col("t"),
        lambda w, i: ~F.exists(
            sp, lambda r: (i >= r["s"]) & (i < r["e"])
        ),
    )
    return joined.select(
        id_col,
        F.size("t").cast("long").alias("n_tokens"),
        (F.size("t") - F.size(kept)).cast("long").alias("removed_tokens"),
        F.array_join(kept, " ").alias("text_clean"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """The REWRITE step of ExactSubstr dedup: excise every duplicated
    span from every document and reassemble the surviving tokens —
    Lee et al. 2022 §3.2's transform as actually shipped (the released
    ``deduplicate-text-datasets`` tool removes ALL occurrences of a
    duplicated substring, not all-but-one; this mirrors that, and the
    detection is :func:`duplicate_spans`'s interval union so the two
    operators can never disagree on what a span is).

    Returns (``id_col``, n_tokens, removed_tokens, text_clean) for
    EVERY input document — docs with no duplicated spans (or < k
    tokens) pass through with ``removed_tokens = 0``; a fully-covered
    document comes back with ``text_clean = ''``. Reassembly joins
    kept tokens with single spaces (tokens are whitespace-split, so
    this is the canonical form of the surviving text).

    Scale: detection is the gram-table shuffle of
    :func:`_dup_positions` (corpus-linear, never pairwise); the
    rewrite is one broadcast-able per-doc span-array join (spans per
    doc are few — bounded by n_tokens/k) and a JVM array filter with
    an index lambda — no UDF, no extra corpus shuffle."""
    spans = _merge_positions_to_spans(
        _dup_positions(df, text_col, id_col, k, min_count), k
    )
    base = df.select(
        F.col(id_col), tokens_col(text_col).alias("t")
    )
    return _excise_spans(base, spans, id_col)


#: Bump when the on-disk layout changes incompatibly (the
#: NearDupLabels/SemanticDedupIndex versioning discipline).
SUBSTR_FORMAT_VERSION = 1
_SUBSTR_BUILD_RUN = "build"
_SUBSTR_GRAMS_SCHEMA = "g long, doc long, c long, bucket int, run string"


class SubstringDupIndex:
    """Persisted substring-dedup state — the incremental-artifact form
    of :func:`dup_span_stats` (the NearDupLabels / IvfIndex /
    SemanticDedupIndex pattern): per-document k-gram occurrence counts,
    hash-bucketed, so a streaming pipeline can gate each batch on its
    duplicated-span coverage AGAINST THE WHOLE CORPUS SO FAR without
    re-scanning it — the boilerplate firewall for incremental ingest.

    Layout under ``path``: ``grams/`` parquet (g, doc, c) partitioned
    by ``(bucket, run)`` — bucket = g mod ``num_buckets`` first so a
    small batch's probe partition-prunes to the buckets its grams hash
    into; run second so a replayed epoch's write is an idempotent
    dynamic overwrite of its own partitions — and ``meta/`` (k,
    num_buckets, id/text cols, format_version) written LAST as the
    commit marker.

    Admission semantics: a batch k-gram is DUPLICATED when (stored
    corpus occurrences, excluding this run's own partitions — the
    replay discipline) + (this batch's occurrences) ≥ ``min_count``;
    duplicated positions merge into spans with the SAME window the
    batch operator uses (:func:`_merge_positions_to_spans` — shared
    code, cannot drift), and a document is admitted when its
    ``dup_token_frac`` ≤ ``max_dup_frac``. Only ADMITTED documents'
    grams are stored (a rejected near-copy must not inflate counts).
    Within-batch duplication counts by multiplicity, so the very first
    batch on an empty index already self-dedups — no bootstrap special
    case.

    Scale: each admission is one gram explode of the batch + one
    grouped count + a join against the stored totals of only the
    TOUCHED buckets (partition-pruned read; a batch landing in 5 of
    ``num_buckets`` buckets reads 5 directories no matter how big the
    corpus grew), then the span window over batch positions. The
    stored table is linear in admitted corpus tokens — it IS the
    corpus's gram profile, the price of exact substring-level state.
    Per-run partitions accrete like the other artifacts; :meth:`compact`
    folds them.
    """

    GRAMS = "grams"
    META = "meta"
    RUNS_DOCS = "runs_docs"

    def __init__(self, spark, path: str) -> None:
        self.spark = spark
        self.path = path
        self._grams_path = os.path.join(path, self.GRAMS)
        self._meta_path = os.path.join(path, self.META)
        self._runs_docs_path = os.path.join(path, self.RUNS_DOCS)
        self._clog = CompactionLog(spark, path)
        self.fs = self._clog.fs  # StateFS (r11): shared per-path dispatch
        self._meta: dict | None = None
        self._grams = PartitionedTable(
            self._grams_path, self.grams, ("bucket", "run")
        )
        #: (run, doc) — admitted doc ids of every COMPACTED run
        self._registry = PartitionedTable(
            self._runs_docs_path,
            lambda: read_registry(spark, self._runs_docs_path, "doc"),
            ("run",),
        )

    # -- lifecycle ------------------------------------------------------
    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = 8,
        num_buckets: int = 64,
    ) -> "SubstringDupIndex":
        spark = corpus.sparkSession
        idx = cls(spark, path)
        for p in (
            idx._meta_path,
            idx._grams_path,
            idx._runs_docs_path,
            idx._clog.path,
        ):
            idx.fs.rmtree(p)
        idx._meta = None
        grams = cls._doc_gram_counts(
            corpus, id_col, text_col, k, num_buckets, _SUBSTR_BUILD_RUN
        )
        grams.write.mode("overwrite").partitionBy("bucket", "run").parquet(
            idx._grams_path
        )
        spark.createDataFrame(
            [(int(k), int(num_buckets), id_col, text_col,
              SUBSTR_FORMAT_VERSION)],
            "k int, num_buckets int, id_col string, text_col string, "
            "format_version int",
        ).coalesce(1).write.mode("overwrite").parquet(idx._meta_path)
        return idx

    @classmethod
    def load(cls, spark, path: str) -> "SubstringDupIndex":
        return cls(spark, path)

    def exists(self) -> bool:
        return self.fs.exists(self._meta_path)

    @property
    def meta(self) -> dict:
        if self._meta is None:
            self._meta = (
                self.spark.read.parquet(self._meta_path).first().asDict()
            )
        return self._meta

    def _check_version(self) -> None:
        check_format_version(
            int(self.meta.get("format_version") or 0),
            SUBSTR_FORMAT_VERSION,
            f"SubstringDupIndex at {self.path!r}",
        )

    @staticmethod
    def _doc_gram_counts(
        df: DataFrame,
        id_col: str,
        text_col: str,
        k: int,
        num_buckets: int,
        run: str,
    ) -> DataFrame:
        """(g, doc, c, bucket, run) — per-document k-gram occurrence
        counts of ``df`` (multiplicity preserved; docs with < k tokens
        contribute nothing)."""
        return (
            kgram_position_table(df, text_col, id_col, k)
            .groupBy("doc", "g")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .select(
                "g",
                F.col("doc").cast("long").alias("doc"),
                "c",
                F.pmod(F.col("g"), F.lit(int(num_buckets)))
                .cast("int")
                .alias("bucket"),
                F.lit(run).alias("run"),
            )
        )

    def grams(self) -> DataFrame:
        """(g, doc, c, bucket, run) — every LIVE stored gram row: rows
        folded by a committed compaction and rows under an uncommitted
        compaction tag are excluded, so reads stay exact through every
        crash window of :meth:`compact`."""
        if not self.fs.exists(self._grams_path):
            return self.spark.createDataFrame([], _SUBSTR_GRAMS_SCHEMA)
        return (
            self.spark.read.schema(_SUBSTR_GRAMS_SCHEMA)
            .parquet(self._grams_path)
            .filter(self._clog.live_run_filter("run"))
        )

    # -- admission ------------------------------------------------------
    def _batch_dup_spans(
        self, batch: DataFrame, run_id: str, min_count: int
    ) -> DataFrame:
        """Merged duplicated spans (doc, span_start, span_len, n_grams)
        of ``batch`` against (stored corpus so far, excluding
        ``run_id``'s OWN contributions — replay discipline) + the
        batch itself; the shared detection both :meth:`coverage` and
        :meth:`rewrite` consume. Stored reads touch only the batch's
        hash buckets (partition-pruned).

        Own-contribution exclusion is by DOCUMENT SET, not by run
        partition: a run's gram rows are exactly its admitted
        documents' rows, and the doc set survives :meth:`compact`
        (live rows under ``run=run_id`` before folding, the per-run
        admitted-id registry after) — a run-partition filter alone
        would stop excluding once the run is folded, and a replayed
        rewrite/coverage would then match the batch against its own
        stored grams and over-count (review r9, reproduced)."""
        self._check_version()
        meta = self.meta
        k, B = int(meta["k"]), int(meta["num_buckets"])
        id_col, text_col = meta["id_col"], meta["text_col"]
        pos = kgram_position_table(batch, text_col, id_col, k)
        pos = pos.localCheckpoint(eager=False)  # one featurization scan
        batch_tot = pos.groupBy("g").agg(
            F.count(F.lit(1)).cast("long").alias("bc")
        )
        touched = [
            int(r["b"])
            for r in batch_tot.select(
                F.pmod(F.col("g"), F.lit(B)).alias("b")
            )
            .distinct()
            .collect()  # O(min(batch grams, num_buckets))
        ]
        own_docs = (
            self.grams()
            .filter(F.col("run") == F.lit(run_id))
            .select("doc")
            .union(
                self._registry.read()
                .filter(F.col("run") == F.lit(run_id))
                .select("doc")
            )
            .distinct()  # O(one run's admitted docs)
        )
        stored_tot = (
            self.grams()
            .filter(F.col("bucket").isin(touched))  # partition-pruned
            # replay discipline; broadcast — own_docs is one run's
            # admitted ids (usually empty), never worth shuffling the
            # bucket-pruned gram table on doc
            .join(F.broadcast(own_docs), "doc", "left_anti")
            .groupBy("g")
            .agg(F.sum("c").cast("long").alias("sc"))
        )
        dup_g = (
            batch_tot.join(stored_tot, "g", "left")
            .na.fill({"sc": 0})
            .filter(F.col("bc") + F.col("sc") >= F.lit(int(min_count)))
            .select("g")
        )
        dup = pos.join(dup_g, "g").select("doc", "pos")
        return _merge_positions_to_spans(dup, k)

    def coverage(
        self, batch: DataFrame, run_id: str, min_count: int = 2
    ) -> DataFrame:
        """Per-document duplicated-span coverage of ``batch`` against
        (stored corpus so far, excluding ``run_id``'s own
        contributions by document set) + the batch itself — the
        :func:`dup_span_stats` row shape, same columns, computed with
        the shared span machinery."""
        self._check_version()
        meta = self.meta
        id_col, text_col = meta["id_col"], meta["text_col"]
        spans = self._batch_dup_spans(batch, run_id, min_count)
        base = batch.select(
            F.col(id_col),
            # coalesce: NULL text is 0 tokens, never size(NULL) = -1
            F.size(
                F.coalesce(
                    tokens_col(text_col),
                    F.array().cast("array<string>"),
                )
            )
            .cast("long")
            .alias("n_tokens"),
        )
        return _span_coverage_stats(spans, base, id_col)

    def rewrite(
        self, batch: DataFrame, run_id: str, min_count: int = 2
    ) -> DataFrame:
        """The STREAMING form of :func:`remove_duplicate_spans`: excise
        from each batch document every span duplicated against the
        stored corpus so far (the global boilerplate profile —
        excluding ``run_id``'s own contributions by document set, the
        compaction-proof replay discipline)
        plus the batch itself, via the shared detection
        (:meth:`_batch_dup_spans`) and the shared excision
        (:func:`_excise_spans`). Read-only — no store mutation — and
        deterministic, so a replayed epoch rewrites identically;
        combine with :meth:`admit_batch` to gate-then-clean an ingest
        micro-batch. Returns (``id_col``, n_tokens, removed_tokens,
        text_clean)."""
        self._check_version()
        meta = self.meta
        id_col, text_col = meta["id_col"], meta["text_col"]
        spans = self._batch_dup_spans(batch, run_id, min_count)
        base = batch.select(
            F.col(id_col), tokens_col(text_col).alias("t")
        )
        return _excise_spans(base, spans, id_col)

    def admit_batch(
        self,
        batch: DataFrame,
        run_id: str,
        max_dup_frac: float = 0.5,
        min_count: int = 2,
    ) -> DataFrame:
        """Admit the documents of ``batch`` whose duplicated-span
        coverage (vs stored corpus + batch) is ≤ ``max_dup_frac``;
        admitted documents' gram counts append to the store under
        ``run_id``. Returns the admitted rows. Replay-deterministic
        without a marker: the decision excludes this run's own
        partitions, and the write is a dynamic overwrite of exactly
        this run's ``(bucket, run)`` partitions. A replay of a run a
        committed :meth:`compact` has folded is answered from the
        registry — the same admitted rows, no state mutation."""
        self._check_version()
        validate_run_id(run_id or "", "partition")
        reject_compact_namespace(run_id, "SubstringDupIndex.admit_batch")
        if run_id in self._clog.folded_originals():
            # this run's rows live in the consolidated partition; its
            # admitted set was frozen into the registry at compact time
            meta = self.meta
            kept = (
                self._registry.read()
                .filter(F.col("run") == F.lit(run_id))  # partition-pruned
                .select(F.col("doc").alias(meta["id_col"]))
            )
            return batch.join(kept, meta["id_col"], "left_semi")
        meta = self.meta
        k, B = int(meta["k"]), int(meta["num_buckets"])
        id_col, text_col = meta["id_col"], meta["text_col"]
        cov = self.coverage(batch, run_id, min_count=min_count)
        keep_ids = cov.filter(
            F.col("dup_token_frac") <= F.lit(float(max_dup_frac))
        ).select(id_col)
        # materialize the decision BEFORE the write: on a replay the
        # decision lineage reads this run's own stored partitions (the
        # doc-set exclusion scans them), and the dynamic overwrite
        # below replaces exactly those files — a lazily-returned
        # `admitted` would re-scan deleted files when the caller
        # finally collects it
        admitted = batch.join(keep_ids, id_col, "left_semi").localCheckpoint(
            eager=True
        )
        new_grams = self._doc_gram_counts(
            admitted, id_col, text_col, k, B, run_id
            # the write replaces this run's own partitions, which the
            # decision lineage may have read on a replay — materialize
        ).localCheckpoint(eager=True)
        (
            new_grams.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket", "run")
            .parquet(self._grams_path)
        )
        return admitted

    # -- retraction -----------------------------------------------------
    def remove(self, ids: DataFrame) -> int:
        """Retract documents' gram rows (right-to-be-forgotten): one
        2-column scan locates the ids (the IvfIndex.remove locality
        trade — the table is bucketed by gram, not doc), then only the
        touched ``(bucket, run)`` partitions rewrite — emptied ones
        deleted FIRST so every intermediate crash state replays
        convergently (:func:`..compaction.retract_ids`, which also
        purges the registry). Returns the number of touched partitions.
        Future admissions simply see lower totals; a twin of a removed
        document re-evaluates freshly (nothing to re-converge — the
        stored state is pure counts)."""
        self._check_version()
        rm = id_set(ids, "doc")
        touched = retract_ids(self._grams, rm, "doc", "SubstringDupIndex.remove")
        # and from the registry, so a replay of a folded run cannot
        # resurrect a removed document (a removed doc's rows are gone,
        # so a crashed-run replay re-evaluates without them)
        retract_ids(self._registry, rm, "doc", "SubstringDupIndex.remove")
        return len(touched)

    # -- maintenance ------------------------------------------------------
    def live_run_count(self) -> int:
        """Number of LIVE ``run=`` partition names on disk (distinct
        names minus committed-folded ones) — the per-probe file-listing
        load the :func:`...operators.compaction.maybe_autocompact`
        policy thresholds. One StateFS listing pass, no Spark job."""
        return live_run_count(self._clog, [self._grams_path], nested=True)

    def compact(self, tag: str) -> dict:
        """Fold every live run partition into ONE consolidated
        ``run=<tag>`` partition per bucket (``tag`` must start with
        ``compact-``; supply it from the caller's maintenance ledger —
        retrying a crashed compact with the SAME tag resumes it).
        Probes and coverage are byte-identical before and after; a
        replay of a folded run is answered from the per-run doc
        registry (same admitted rows, no state mutation); ``remove``
        keeps working (and retracts from the registry too).

        Protocol and crash-window analysis: see
        :mod:`..operators.compaction`. Single-writer: do not run
        concurrently with admissions/removals; quiesce the stream
        first (a mid-write crashed run that was never redelivered
        would have its PARTIAL state frozen into the registry).

        Returns a summary dict with the folded runs and the on-disk
        ``run=`` partition-directory count before/after — the
        file-listing load every probe pays."""
        validate_compact_tag(tag, "SubstringDupIndex.compact")
        self._check_version()
        return fold_runs(
            self._clog, tag, [self._grams],
            registry=(self._runs_docs_path, "doc"),
        )


class IncrementalSubstringDedup:
    """Cross-run SUBSTRING-LEVEL admission over a persisted
    :class:`SubstringDupIndex` — the fifth incremental-admission tier
    (exact, LSH, embedding, semantic, and now duplicated-span
    coverage): each micro-batch's documents are gated on their
    span-duplication fraction against the whole admitted corpus so
    far. Drops into :func:`...streaming.admission.run_admission_stream`
    unchanged (``admit(batch, run_id=)``); the first batch bootstraps
    the store implicitly (empty stored side — within-batch duplication
    still gates, by multiplicity)."""

    def __init__(
        self,
        spark,
        state_dir: str,
        max_dup_frac: float = 0.5,
        k: int = 8,
        num_buckets: int = 64,
        id_col: str = "doc_id",
        text_col: str = "text",
        max_live_runs: "int | None" = None,
    ) -> None:
        self.index = SubstringDupIndex(spark, state_dir)
        self.state_dir = state_dir
        self.max_dup_frac = float(max_dup_frac)
        self.k = int(k)
        self.num_buckets = int(num_buckets)
        self.id_col = id_col
        self.text_col = text_col
        #: auto-compaction policy (r10): when set, each admission
        #: commit checks the index's live run-partition count and
        #: folds it under ``compact-auto-<run_id>`` once it exceeds
        #: this — so streaming cadence cannot grow the per-probe file
        #: listing without bound. See
        #: :func:`..compaction.maybe_autocompact` for the crash-replay
        #: argument.
        self.max_live_runs = max_live_runs

    def admit(self, batch: DataFrame, run_id: str | None = None) -> DataFrame:
        if self.max_live_runs is not None and run_id is None:
            # fail BEFORE the admission commit — the policy would raise
            # anyway (its fold tag derives from run_id), and failing
            # after the state write leaves a committed adhoc run the
            # caller did not expect
            raise ValueError(
                "IncrementalSubstringDedup.admit: max_live_runs is set "
                "but run_id is None — auto-compaction needs the "
                "per-epoch run id for its fold tag"
            )
        if not self.index.exists():
            # first contact: commit an EMPTY index (meta only) so the
            # admission below is the one writing this run's partitions
            # — a replayed first epoch then overwrites its own
            # partitions instead of re-running build with different
            # row attribution
            SubstringDupIndex.build(
                batch.limit(0),
                self.state_dir,
                id_col=self.id_col,
                text_col=self.text_col,
                k=self.k,
                num_buckets=self.num_buckets,
            )
        admitted = self.index.admit_batch(
            batch, run_id or "adhoc", max_dup_frac=self.max_dup_frac
        )
        # policy AFTER the admission commit: `admitted` is either
        # materialized (normal path) or a registry read compact never
        # rewrites (folded-replay path), so the fold cannot invalidate
        # the returned rows
        maybe_autocompact(self.index, run_id, self.max_live_runs)
        return admitted


class SubstringRewriteStage:
    """Admission-chain TRANSFORM stage: gate each micro-batch on
    duplicated-span coverage (:class:`IncrementalSubstringDedup`) and
    return the admitted documents with their duplicated spans EXCISED
    — ``text_col`` replaced by the cleaned text via
    :meth:`SubstringDupIndex.rewrite`, all other columns carried
    through unchanged. The last stage of a
    :class:`...streaming.admission.ChainedAdmitter` curation chain:
    earlier gates judge the original text; the corpus that lands is
    the cleaned one (the batch pipeline's ``rewrite_spans`` stage,
    streaming form).

    Default ``max_dup_frac=1.0`` admits everything (pure transform —
    the grams still append to the store so FUTURE epochs see this
    epoch's boilerplate); tighten it to also drop documents that are
    mostly duplicated.

    Replay-convergent, hence chain-safe: ``admit_batch`` re-returns a
    crashed epoch's admitted set without re-mutating state (registry
    answer after a compact; doc-set self-exclusion before), and
    ``rewrite`` is read-only + deterministic and EXCLUDES this
    run_id's own stored contributions by document set — so the cleaned
    text is byte-identical whether or not the crashed attempt's gram
    write committed, or a later ``compact()`` folded it.
    """

    def __init__(
        self,
        spark,
        state_dir: str,
        max_dup_frac: float = 1.0,
        min_count: int = 2,
        k: int = 8,
        num_buckets: int = 64,
        id_col: str = "doc_id",
        text_col: str = "text",
        max_live_runs: "int | None" = None,
    ) -> None:
        # max_live_runs: the auto-compaction policy rides the inner
        # admitter; the rewrite below is byte-identical across folds
        # (document-set self-exclusion — the r9 compaction-proof
        # discipline), so the policy composes with the transform
        self._inc = IncrementalSubstringDedup(
            spark,
            state_dir,
            max_dup_frac=max_dup_frac,
            k=k,
            num_buckets=num_buckets,
            id_col=id_col,
            text_col=text_col,
            max_live_runs=max_live_runs,
        )
        self.index = self._inc.index
        self.state_dir = state_dir
        self.min_count = int(min_count)
        self.id_col = id_col
        self.text_col = text_col

    def admit(self, batch: DataFrame, run_id: str | None = None) -> DataFrame:
        admitted = self._inc.admit(batch, run_id=run_id)
        cleaned = self.index.rewrite(
            admitted, run_id or "adhoc", min_count=self.min_count
        ).select(
            self.id_col, F.col("text_clean").alias(self.text_col)
        )
        carried = [c for c in admitted.columns if c != self.text_col]
        return admitted.select(*carried).join(cleaned, self.id_col)
