"""medallion_cdc: the reference's write path on a seeded star schema.

Set-up writes the source tables and runs the initial load of DimUser
(SCD2) and FactStream (SCD1) through the CDC path, which doubles as the
warm-up. One pass is one CDC cycle over those two tables:

    sources.ingest.incremental_extract        (bronze, per table)
    streaming.rescue.read_bronze_stream
      + streaming.silver.dedup_stream / write_silver_stream
    streaming.gold.CdcFlow.run_stream          (SCD2 DimUser, SCD1 FactStream)

then one query sweep, the ``plans.star_query`` star join over gold,
grouped three ways. DimArtist, DimTrack and DimDate never change after
the initial load, so the join reads them from their source files.
Tables run one after another, not through ``ingest_tables``' thread pool.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from perfbench import gen
from perfbench.probe import bytes_added, dir_files

#: (users, artists, tracks, facts) of the initial load; each cycle
#: changes or appends about 1 % of every table
SIZES = (2_000, 200, 1_000, 100_000)

#: (table, key, CDC column) of the tables every cycle carries
CDC = tuple(t for t in gen.TABLES if t[0] in gen.CDC_TABLES)

class CheckFailed(Exception):
    """An output check found a wrong result."""


def star_specs():
    """FactStream LEFT JOIN the current DimUser rows, DimTrack, DimArtist
    and DimDate, with every column the query set groups by."""
    from dataeng_azure_spotify_spark.operators.scd import CURRENT_COL
    from dataeng_azure_spotify_spark.plans.star_query import JoinSpec

    return [
        JoinSpec("gold_FactStream", "f", ["stream_id", "listen_duration", "device_type"]),
        JoinSpec("gold_DimUser", "u", ["subscription_type", "country"],
                 f"f.user_id = u.user_id AND u.{CURRENT_COL}", broadcast=True),
        JoinSpec("gold_DimTrack", "t", ["artist_id"], "f.track_id = t.track_id", broadcast=True),
        JoinSpec("gold_DimArtist", "a", ["genre"], "t.artist_id = a.artist_id", broadcast=True),
        JoinSpec("gold_DimDate", "d", ["year", "weekday"], "f.date_key = d.date_key", broadcast=True),
    ]


def star_rows(df, cols: tuple[str, ...]) -> list[tuple]:
    """One query of the set: ``df`` grouped by ``cols``, as
    :func:`gen.star_checksums` computes it."""
    from pyspark.sql import functions as F

    out = df.groupBy(*cols).agg(
        F.count(F.lit(1)).alias("rows"), F.sum("listen_duration").alias("listen")
    ).collect()
    n = len(cols)
    return sorted((tuple(r[:n]) + (int(r[n]), int(r[n + 1])) for r in out), key=repr)


def check_scd2(df, key: str) -> None:
    """Exactly one current row per key, and each key's validity
    intervals chain without overlap (every closed version ends where the
    next one starts; only the last is open and current)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dataeng_azure_spotify_spark.operators.scd import CURRENT_COL, END_COL, START_COL

    w = Window.partitionBy(key).orderBy(START_COL)
    bad = (
        df.withColumn("_next", F.lead(START_COL).over(w))
        .withColumn("_cur", F.sum(F.col(CURRENT_COL).cast("int")).over(Window.partitionBy(key)))
        .filter(
            (F.col("_cur") != 1)
            | (F.col("_next").isNull() & (F.col(END_COL).isNotNull() | ~F.col(CURRENT_COL)))
            | (F.col("_next").isNotNull() & (~F.col(END_COL).eqNullSafe(F.col("_next")) | F.col(CURRENT_COL)))
        )
        .limit(1)
        .collect()
    )
    if bad:
        raise CheckFailed(f"SCD2 invariant broken for {key}={bad[0][key]}")


def check_counts(got: dict[str, int], want: dict[str, int]) -> None:
    for table, n in want.items():
        if got[table] != n:
            raise CheckFailed(f"gold {table}: {got[table]} rows, expected {n}")


def check_star(got: list[list[tuple]], want: list[list[tuple]]) -> None:
    if got != want:
        raise CheckFailed("star join result differs from the generated rows")


class Medallion:
    name = "medallion_cdc"

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        self.spark, self.work, self.tracer = spark, work, tracer
        users, artists, tracks, facts = SIZES
        self.gen = gen.StarCdc(seed, users, artists, tracks, facts)
        self.cycle = 0
        self.input = {"rows": 0, "bytes": 0}
        self.schemas = {}

    def _p(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def _write_source(self, tables: dict) -> None:
        for name, t in tables.items():
            path = self._p("source", name, f"cycle-{self.cycle:04d}.parquet")
            self.input["bytes"] += gen.write_parquet(t, path)
            self.input["rows"] += t.num_rows

    # -- set-up -------------------------------------------------------
    def generate(self) -> None:
        self._write_source(self.gen.initial())

    def load(self) -> None:
        """Declare the CDC flows. The static dimensions never change, so
        the star join reads them straight from their source files."""
        from dataeng_azure_spotify_spark.sources.watermark import WatermarkStore
        from dataeng_azure_spotify_spark.streaming.gold import CdcFlow

        self.store = WatermarkStore(self._p("watermark"))
        self.flows = {
            table: CdcFlow(
                name=table, gold_base=self._p("gold", table), keys=[key],
                sequence_by=cdc, scd_type=2 if table == "DimUser" else 1,
                expectations={f"{key} not null": f"{key} IS NOT NULL"},
                backend="parquet",
            )
            for table, key, cdc in CDC
        }
        for table, _, _ in gen.TABLES:
            if table not in self.flows:
                self.spark.read.parquet(self._p("source", table)).createOrReplaceTempView(f"gold_{table}")

    def warm_up(self) -> None:
        """The initial load: the same path as a cycle, from the seed
        watermark, then one query sweep. The first timed pass checks the
        cumulative gold state."""
        self.cycle_once()
        self.query_once()

    # -- one pass -----------------------------------------------------
    def next_delta(self) -> None:
        """Write the next cycle's source rows (untimed)."""
        self.cycle += 1
        self._write_source(self.gen.delta(self.cycle))

    def cycle_once(self) -> dict[str, float]:
        """Extract, silver and gold for both CDC tables; returns layer
        figures of this cycle (bytes while tracing, commit times)."""
        from dataeng_azure_spotify_spark.sources.ingest import TableConfig, incremental_extract
        from dataeng_azure_spotify_spark.streaming.rescue import RESCUE_COL, read_bronze_stream
        from dataeng_azure_spotify_spark.streaming.silver import dedup_stream, write_silver_stream

        spark, tr = self.spark, self.tracer
        figs = {}
        with self._written("bronze", figs), tr.span("sources.extract"):
            for table, _key, cdc in CDC:
                src = spark.read.parquet(self._p("source", table))
                incremental_extract(spark, src, TableConfig(table, cdc), self.store, self._p("bronze"))

        queries = []
        with self._written("silver", figs), tr.span("streaming.silver"):
            for table, key, cdc in CDC:
                stream = read_bronze_stream(spark, self._p("bronze", table), self._p("chk", table, "schema"))
                queries.append(write_silver_stream(
                    dedup_stream(stream.drop(RESCUE_COL), [key, cdc]),
                    self._p("silver", table), self._p("chk", table, "silver"),
                ))
        figs["silver_commit_s"] = _commit_s(queries)

        queries = []
        with self._written("gold", figs), tr.span("streaming.gold"):
            for table, _key, _cdc in CDC:
                silver = self._p("silver", table)
                if table not in self.schemas:  # known after the initial load
                    self.schemas[table] = spark.read.parquet(silver).schema
                stream = spark.readStream.schema(self.schemas[table]).parquet(silver)
                queries.append(self.flows[table].run_stream(spark, stream, self._p("chk", table, "gold")))
        figs["gold_commit_s"] = _commit_s(queries)
        return figs

    @contextmanager
    def _written(self, layer: str, figs: dict):
        """While tracing, record in ``figs`` the bytes of the files the
        block adds under ``<work>/<layer>``."""
        if not self.tracer.enabled:
            yield
            return
        before = dir_files(self._p(layer))
        yield
        figs[f"{layer}_bytes"] = bytes_added(before, self._p(layer))

    def query_once(self) -> list[list[tuple]]:
        from dataeng_azure_spotify_spark.plans.star_query import StarQuery

        with self.tracer.span("plans.star_query"):
            for table, flow in self.flows.items():
                flow.table(self.spark).read().createOrReplaceTempView(f"gold_{table}")
            star = StarQuery(star_specs()).dataframe(self.spark)
            return [star_rows(star, cols) for cols in gen.STAR_GROUPS]

    def check(self, star: list[list[tuple]]) -> None:
        """Gold row counts, the SCD2 invariants and the star checksums
        against the generator's expected state."""
        exp = self.gen.expected_gold()
        got = {t: flow.table(self.spark).read().count() for t, flow in self.flows.items()}
        check_counts(got, {t: len(exp[t]) for t in self.flows})
        check_scd2(self.flows["DimUser"].table(self.spark).read(), "user_id")
        check_star(star, gen.star_checksums(exp))

    def run_pass(self) -> tuple[float, dict]:
        """One timed cycle and query sweep, then the checks. Returns the
        time and the cycle's layer figures."""
        self.next_delta()
        t0 = time.perf_counter()
        figs = self.cycle_once()
        star = self.query_once()
        t1 = time.perf_counter()
        self.check(star)
        return t1 - t0, figs


def _commit_s(queries) -> float:
    """``walCommit`` + ``commitOffsets`` over the queries' progress, in s."""
    ms = sum(p.durationMs.get("walCommit", 0) + p.durationMs.get("commitOffsets", 0)
             for q in queries for p in q.recentProgress)
    return ms / 1000.0
