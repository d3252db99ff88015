"""curation_llm: the LLM-corpus curation pipeline and the heavy LLM rows
of the declared query catalog, on a seeded corpus.

One pass is one full run of ``plans.llm_corpus.build_llm_corpus_pipeline``
(seven stages, each landing parquet) followed by one query sweep, which
runs :data:`SWEEP` from ``__spark_entry__.queries()`` and collects the
result; the result is then checked against the row's ``oracle_sql()``
DuckDB twin. Set-up writes the corpus and loads the catalog; there is no
warm-up run, so the timed pass is the session's first.
"""

from __future__ import annotations

import os
import time

from perfbench import gen
from perfbench.medallion import CheckFailed

#: documents and embedding vectors of the generated corpus
SIZES = (400, 200)

STAGES = ("gate_blocklist", "gate_quality", "dedup_exact", "dedup_near",
          "rewrite_spans", "mix", "shards")
SWEEP = ("simhash_neardup",)
MIX_TOTAL = 50
#: the blocklist gate's settings, passed to the pipeline explicitly so the
#: expected survivor count below uses the same ones
BLOCKLIST = ("dup",)
MAX_BLOCKED_PPM = 40_000


def canonical(df) -> list[tuple]:
    """Order-insensitive value form of a pandas frame (columns by name)."""
    import math

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if hasattr(v, "item"):  # numpy scalar
            v = v.item()
        return repr(float(v)) if isinstance(v, float) else str(v)

    cols = sorted(df.columns)
    return sorted(tuple(cell(v) for v in row) for row in df[cols].itertuples(index=False))


def blocklist_survivors(texts) -> int:
    """Documents the blocklist gate keeps, computed from the generated
    texts: at most ``MAX_BLOCKED_PPM`` blocked whitespace tokens per
    million (a blank text has no tokens and is kept)."""
    kept = 0
    for t in texts:
        toks = t.split()
        blocked = sum(w in BLOCKLIST for w in toks)
        kept += blocked * 1_000_000 <= MAX_BLOCKED_PPM * len(toks)
    return kept


def distinct_texts(stage_dir: str) -> int:
    """Distinct texts in a landed stage. The generated texts are lower
    case with single spaces, so the program's text normalisation before
    its md5 leaves them as they are."""
    import pyarrow.parquet as pq

    return len(set(pq.read_table(stage_dir, columns=["text"]).column("text").to_pylist()))


def check_audit(audit: dict[str, int], n_docs: int, want_blocklist: int,
                want_exact: int) -> None:
    """Every stage keeps at most what it was given, each gate and dedup
    stage removed something, and the mix drew exactly ``MIX_TOTAL``. The
    blocklist gate kept ``want_blocklist`` documents (from the seed) and
    exact dedup kept ``want_exact`` (the distinct texts it was given)."""
    if audit["gate_blocklist"] != want_blocklist:
        raise CheckFailed(f"gate_blocklist kept {audit['gate_blocklist']}, expected {want_blocklist}")
    if audit["dedup_exact"] != want_exact:
        raise CheckFailed(f"dedup_exact kept {audit['dedup_exact']}, expected {want_exact}")
    prev = n_docs
    for stage in STAGES:
        if audit[stage] > prev:
            raise CheckFailed(f"{stage} grew the corpus: {audit[stage]} > {prev}")
        prev = audit[stage]
    for stage, given in (("gate_blocklist", n_docs), ("gate_quality", audit["gate_blocklist"]),
                         ("dedup_exact", audit["gate_quality"]), ("dedup_near", audit["dedup_exact"])):
        if audit[stage] >= given:
            raise CheckFailed(f"{stage} removed nothing ({audit[stage]} of {given})")
    if audit["mix"] != MIX_TOTAL or audit["shards"] != MIX_TOTAL:
        raise CheckFailed(f"mix drew {audit['mix']} documents and shards hold {audit['shards']},"
                          f" expected {MIX_TOTAL}")


class Curation:
    name = "curation_llm"

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        self.spark, self.work, self.tracer, self.seed = spark, work, tracer, seed
        self.sf_dir = os.path.join(work, "sf")
        self.passes = 0
        self.input = {"rows": 0, "bytes": 0}

    # -- set-up -------------------------------------------------------
    def generate(self) -> None:
        self.input = gen.write_curation_fixture(self.sf_dir, self.seed, *SIZES)
        self.want_blocklist = blocklist_survivors(gen.corpus(self.seed, SIZES[0]).column("text").to_pylist())

    def load(self) -> None:
        """Register the catalog and resolve the declared queries."""
        import __spark_entry__ as entry
        from dataeng_azure_spotify_spark.catalog import Catalog

        cat = Catalog(self.spark, self.sf_dir)
        cat.register_all()
        self.docs = cat.load("documents")
        self.catalog = entry.queries()
        self.oracle = entry.oracle_sql()

    def warm_up(self) -> None:
        """Nothing: the timed pass is the session's first (see NOTES.md,
        "Budget")."""
        self.audit = None

    def check_oracle(self, name: str, got) -> None:
        """``got`` (pandas) must equal the row's DuckDB twin value by value."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            want = con.execute(self.oracle[name]).df()
        finally:
            con.close()
        if sorted(got.columns) != sorted(want.columns) or canonical(got) != canonical(want):
            raise CheckFailed(f"{name}: Spark result differs from its DuckDB oracle")

    # -- one pass -----------------------------------------------------
    def _spanned(self, name: str, fn):
        def run(spark):
            with self.tracer.span(name):
                return fn(spark)
        return run

    def _pipeline(self) -> dict[str, int]:
        """One ``Pipeline.run``, each stage in its span (a span does
        nothing while tracing is off)."""
        from dataeng_azure_spotify_spark.plans.llm_corpus import build_llm_corpus_pipeline

        self.passes += 1
        self.out_dir = os.path.join(self.work, "corpus", f"pass-{self.passes:03d}")
        pipe = build_llm_corpus_pipeline(
            self.docs, self.out_dir, blocklist=BLOCKLIST,
            max_blocked_ppm=MAX_BLOCKED_PPM, mix_total=MIX_TOTAL,
        )
        for t in pipe._nodes.values():
            t.fn = self._spanned(f"plans.llm_corpus.{t.name}", t.fn)
        return pipe.run(self.spark)

    def _sweep(self) -> dict:
        """The sweep's results, collected to the driver as pandas frames."""
        out = {}
        for q in SWEEP:
            with self.tracer.span(f"query.{q}"):
                out[q] = self.catalog[q](self.spark, self.sf_dir).toPandas()
        return out

    def run_pass(self) -> tuple[float, dict]:
        """One timed pipeline run and query sweep, then the checks."""
        t0 = time.perf_counter()
        audit = self._pipeline()
        results = self._sweep()
        t1 = time.perf_counter()
        check_audit(audit, SIZES[0], self.want_blocklist,
                    distinct_texts(os.path.join(self.out_dir, "gate_quality")))
        if self.audit is not None and audit != self.audit:
            raise CheckFailed(f"stage audit {audit} differs from the first pass's {self.audit}")
        self.audit = audit
        for q, got in results.items():
            self.check_oracle(q, got)
        return t1 - t0, {}
