"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed and the size arguments:
numpy's PCG64 drives every draw and the tables are written with pyarrow
(no Spark), so two runs with the same seed write byte-identical parquet
files. The program under test only ever sees the generated files.

- :class:`StarCdc` models the reference's star schema
  (``data_scripts/spotify_initial_load.sql``): DimUser (SCD2), DimArtist,
  DimTrack, DimDate and FactStream (SCD1). It emits an initial load and
  then one small delta per CDC cycle of DimUser and FactStream with
  changed rows, exact duplicate rows, NULL-key rows, out-of-order
  versions and orphan facts, and
  keeps the expected gold state so the benchmark can check the output.
- :func:`write_curation_fixture` writes a catalog directory whose
  ``documents`` table has both Gopher classes, blocklisted documents and
  about 10 % exact plus near duplicates, an ``embeddings`` table with
  label clusters, and tiny stand-ins for the relational tables the
  catalog registers.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Every CDC timestamp is an offset from this instant. The initial load
#: sits in the 30 days before it; cycle ``c`` writes into day ``c``.
EPOCH = dt.datetime(2025, 1, 1)
_EPOCH_US = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
_DAY_US = 86_400 * 1_000_000

SUBSCRIPTIONS = ("Free", "Premium", "Family")
COUNTRIES = ("Brazil", "Canada", "France", "Germany", "India", "Japan", "Kenya", "Mexico", "Spain", "Sweden")
GENRES = ("Pop", "Rock", "Jazz", "Hip-Hop", "Classical", "Electronic", "Country", "Reggae")
DEVICES = ("Mobile", "Desktop", "Smart Speaker", "Tablet", "Car")
WEEKDAYS = ("Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday")

#: (table, key column, CDC column) in the reference's ``loop_input.json``
#: order; DimUser is the SCD2 table.
TABLES = (
    ("DimUser", "user_id", "updated_at"),
    ("DimArtist", "artist_id", "updated_at"),
    ("DimTrack", "track_id", "updated_at"),
    ("DimDate", "date_key", "date"),
    ("FactStream", "stream_id", "stream_timestamp"),
)

#: the tables that change every cycle: one per merge type (SCD2, SCD1).
#: The other dimensions change only with the initial load.
CDC_TABLES = ("DimUser", "FactStream")
#: share of a CDC table's initial keys that each cycle changes or adds
DELTA_FRAC = 0.01

_SCHEMAS = {
    "DimUser": pa.schema([
        ("user_id", pa.int32()), ("user_name", pa.string()), ("country", pa.string()),
        ("subscription_type", pa.string()), ("start_date", pa.date32()),
        ("end_date", pa.date32()), ("updated_at", pa.timestamp("us")),
    ]),
    "DimArtist": pa.schema([
        ("artist_id", pa.int32()), ("artist_name", pa.string()), ("genre", pa.string()),
        ("country", pa.string()), ("updated_at", pa.timestamp("us")),
    ]),
    "DimTrack": pa.schema([
        ("track_id", pa.int32()), ("track_name", pa.string()), ("artist_id", pa.int32()),
        ("album_name", pa.string()), ("duration_sec", pa.int32()),
        ("release_date", pa.date32()), ("updated_at", pa.timestamp("us")),
    ]),
    "DimDate": pa.schema([
        ("date_key", pa.int32()), ("date", pa.date32()), ("day", pa.int32()),
        ("month", pa.int32()), ("year", pa.int32()), ("weekday", pa.string()),
    ]),
    "FactStream": pa.schema([
        ("stream_id", pa.int64()), ("user_id", pa.int32()), ("track_id", pa.int32()),
        ("date_key", pa.int32()), ("listen_duration", pa.int32()),
        ("device_type", pa.string()), ("stream_timestamp", pa.timestamp("us")),
    ]),
}


def write_parquet(table: pa.Table, path: str) -> int:
    """Write ``table`` to ``path`` with fixed settings; returns its bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _pick(rng: np.random.Generator, values: tuple, n: int) -> list:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _date_key(days: np.ndarray) -> np.ndarray:
    """yyyymmdd keys for day offsets from 1970-01-01."""
    d = days.astype("datetime64[D]")
    y = d.astype("datetime64[Y]").astype(int) + 1970
    m = d.astype("datetime64[M]").astype(int) % 12 + 1
    day = (d - d.astype("datetime64[M]")).astype(int) + 1
    return (y * 10000 + m * 100 + day).astype(np.int32)


class StarCdc:
    """Seeded star-schema source with per-cycle CDC deltas.

    ``valid`` holds, per table, the batches of valid (non-NULL key,
    non-duplicate) rows emitted so far; the expected gold state is
    derived from it by :meth:`expected_gold`.
    """

    def __init__(self, seed: int, users: int, artists: int, tracks: int, facts: int) -> None:
        self.rng = np.random.Generator(np.random.PCG64(seed))
        self.n = {"DimUser": users, "DimArtist": artists, "DimTrack": tracks,
                  "FactStream": facts}
        self.next_id = dict(self.n)
        self.days = 366  # DimDate: one full year
        self.valid: dict[str, list[pa.Table]] = {t: [] for t, _, _ in TABLES}

    # -- row builders -------------------------------------------------
    def _ts(self, n: int, cycle: int) -> np.ndarray:
        """Timestamps inside the cycle's day; cycle 0 is the 30 days
        before the epoch."""
        if cycle == 0:
            lo, span = _EPOCH_US - 30 * _DAY_US, 30 * _DAY_US
        else:  # first half of the day; later versions use the second
            lo, span = _EPOCH_US + (cycle - 1) * _DAY_US, _DAY_US // 2
        return lo + self.rng.integers(0, span, n)

    def _users(self, ids: np.ndarray, ts: np.ndarray) -> pa.Table:
        n = len(ids)
        start = (np.datetime64("2023-01-01") - np.datetime64("1970-01-01")).astype(int)
        return pa.table({
            "user_id": pa.array(ids, pa.int32()),
            "user_name": [f"user_{i}_{v}" for i, v in zip(ids, self.rng.integers(0, 1000, n))],
            "country": _pick(self.rng, COUNTRIES, n),
            "subscription_type": _pick(self.rng, SUBSCRIPTIONS, n),
            "start_date": pa.array(start + self.rng.integers(0, 900, n), pa.int32()).cast(pa.date32()),
            "end_date": pa.nulls(n, pa.date32()),
            "updated_at": pa.array(ts, pa.timestamp("us")),
        }, schema=_SCHEMAS["DimUser"])

    def _artists(self, ids: np.ndarray, ts: np.ndarray) -> pa.Table:
        n = len(ids)
        return pa.table({
            "artist_id": pa.array(ids, pa.int32()),
            "artist_name": [f"artist_{i}" for i in ids],
            "genre": _pick(self.rng, GENRES, n),
            "country": _pick(self.rng, COUNTRIES, n),
            "updated_at": pa.array(ts, pa.timestamp("us")),
        }, schema=_SCHEMAS["DimArtist"])

    def _tracks(self, ids: np.ndarray, ts: np.ndarray) -> pa.Table:
        n = len(ids)
        rel = (np.datetime64("2015-01-01") - np.datetime64("1970-01-01")).astype(int)
        return pa.table({
            "track_id": pa.array(ids, pa.int32()),
            "track_name": [f"track_{i}" for i in ids],
            "artist_id": pa.array(self.rng.integers(0, self.n["DimArtist"], n), pa.int32()),
            "album_name": [f"album_{i // 12}" for i in ids],
            # straddles the 150/300 s duration buckets
            "duration_sec": pa.array(self.rng.integers(90, 420, n), pa.int32()),
            "release_date": pa.array(rel + self.rng.integers(0, 3650, n), pa.int32()).cast(pa.date32()),
            "updated_at": pa.array(ts, pa.timestamp("us")),
        }, schema=_SCHEMAS["DimTrack"])

    def _dates(self, lo: int, hi: int) -> pa.Table:
        base = (np.datetime64("2024-01-01") - np.datetime64("1970-01-01")).astype(int)
        days = base + np.arange(lo, hi)
        d = days.astype("datetime64[D]")
        return pa.table({
            "date_key": pa.array(_date_key(days), pa.int32()),
            "date": pa.array(days.astype(np.int32), pa.int32()).cast(pa.date32()),
            "day": pa.array((d - d.astype("datetime64[M]")).astype(int) + 1, pa.int32()),
            "month": pa.array(d.astype("datetime64[M]").astype(int) % 12 + 1, pa.int32()),
            "year": pa.array(d.astype("datetime64[Y]").astype(int) + 1970, pa.int32()),
            "weekday": [WEEKDAYS[(int(x) + 3) % 7] for x in days],
        }, schema=_SCHEMAS["DimDate"])

    def _facts(self, ids: np.ndarray, ts: np.ndarray, orphan_frac: float = 0.02) -> pa.Table:
        n = len(ids)
        tracks = self.rng.integers(0, self.n["DimTrack"], n)
        # orphan facts: track ids with no DimTrack row (LEFT JOIN keeps them)
        orphan = self.rng.random(n) < orphan_frac
        tracks = np.where(orphan, self.n["DimTrack"] * 10 + tracks, tracks)
        base = (np.datetime64("2024-01-01") - np.datetime64("1970-01-01")).astype(int)
        return pa.table({
            "stream_id": pa.array(ids, pa.int64()),
            "user_id": pa.array(self.rng.integers(0, self.n["DimUser"], n), pa.int32()),
            "track_id": pa.array(tracks, pa.int32()),
            "date_key": pa.array(_date_key(base + self.rng.integers(0, self.days, n)), pa.int32()),
            "listen_duration": pa.array(self.rng.integers(5, 400, n), pa.int32()),
            "device_type": _pick(self.rng, DEVICES, n),
            "stream_timestamp": pa.array(ts, pa.timestamp("us")),
        }, schema=_SCHEMAS["FactStream"])

    def _build(self, table: str, ids: np.ndarray, ts: np.ndarray) -> pa.Table:
        return {"DimUser": self._users, "DimArtist": self._artists,
                "DimTrack": self._tracks, "FactStream": self._facts}[table](ids, ts)

    # -- public -------------------------------------------------------
    def initial(self) -> dict[str, pa.Table]:
        """The initial load: one row per key, no duplicates."""
        out = {}
        for table, key, _ in TABLES:
            if table == "DimDate":
                t = self._dates(0, self.days)
            else:
                n = self.n[table]
                t = self._build(table, np.arange(n), self._ts(n, 0))
            self.valid[table].append(t)
            out[table] = t
        return out

    def delta(self, cycle: int) -> dict[str, pa.Table]:
        """One CDC cycle's new source rows (cycle >= 1) for the
        :data:`CDC_TABLES`: about :data:`DELTA_FRAC` of each table changed or
        appended, plus exact duplicates and NULL-key rows that silver and
        gold must drop."""
        out = {}
        for table, key, _ in TABLES:
            if table not in CDC_TABLES:
                continue
            n = self.n[table]
            k = max(4, int(n * DELTA_FRAC))
            changed = self.rng.choice(n, k // 2, replace=False)
            fresh = np.arange(self.next_id[table], self.next_id[table] + k - k // 2)
            self.next_id[table] += len(fresh)
            ids = np.concatenate([changed, fresh])
            valid = self._build(table, ids, self._ts(len(ids), cycle))
            # a second, later version of a few changed keys in the same
            # batch, written FIRST (out-of-order delivery)
            twice = changed[: max(1, len(changed) // 10)]
            later = self._build(table, twice, self._ts(len(twice), cycle) + _DAY_US // 2)
            valid = pa.concat_tables([later, valid])
            self.valid[table].append(valid)
            dups = valid.take(self.rng.choice(valid.num_rows, max(1, valid.num_rows // 20), replace=False))
            nulls = valid.take(self.rng.choice(valid.num_rows, max(1, valid.num_rows // 50), replace=False))
            nulls = nulls.set_column(0, key, pa.nulls(nulls.num_rows, nulls.schema.field(key).type))
            out[table] = pa.concat_tables([valid, dups, nulls])
        return out

    def expected_gold(self) -> dict[str, "object"]:
        """Expected gold tables (pandas): SCD1 tables hold the latest row
        per key; DimUser holds one row per (key, version) with the
        current version last."""
        exp = {}
        for table, key, cdc in TABLES:
            df = pa.concat_tables(self.valid[table]).to_pandas()
            df = df.sort_values([key, cdc], kind="stable")
            if table == "DimUser":
                exp[table] = df.drop_duplicates([key, cdc], keep="last")
            else:
                exp[table] = df.drop_duplicates([key], keep="last")
        return exp


#: the star query set: each groups the star join by these columns into
#: (rows, sum of listen_duration)
STAR_GROUPS = (
    ("subscription_type", "genre", "year"),
    ("country", "device_type"),
    ("weekday", "genre"),
)


def _py(v):
    """A pandas group key as Spark returns it: None for NULL, plain
    Python scalars, whole floats (a NULL-widened int column) as int."""
    import pandas as pd

    if pd.isna(v):
        return None
    v = v.item() if hasattr(v, "item") else v
    return int(v) if isinstance(v, float) else v


def star_checksums(exp: dict) -> list[list[tuple]]:
    """The star query set computed on the expected gold state: FactStream
    LEFT JOIN current DimUser, DimTrack, DimArtist and DimDate, grouped
    by each of :data:`STAR_GROUPS`. Each result is sorted, with NULL
    group values as None."""
    import pandas as pd

    users = exp["DimUser"].drop_duplicates("user_id", keep="last")
    f = exp["FactStream"][["stream_id", "user_id", "track_id", "date_key",
                            "listen_duration", "device_type"]]
    j = f.merge(users[["user_id", "subscription_type", "country"]], on="user_id", how="left")
    j = j.merge(exp["DimTrack"][["track_id", "artist_id"]], on="track_id", how="left")
    j = j.merge(exp["DimArtist"][["artist_id", "genre"]], on="artist_id", how="left")
    j = j.merge(exp["DimDate"][["date_key", "year", "weekday"]], on="date_key", how="left")
    out = []
    for cols in STAR_GROUPS:
        g = j.groupby(list(cols), dropna=False).agg(
            rows=("stream_id", "size"), listen=("listen_duration", "sum"))
        rows = []
        for key, r in g.iterrows():
            rows.append((*map(_py, key), int(r["rows"]), int(r["listen"])))
        out.append(sorted(rows, key=repr))
    return out


# -- curation corpus ------------------------------------------------------

_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
_STOP = ("the", "a", "and", "of", "to", "in", "is", "for", "on", "it")
_LANGS = ("en", "en", "de", "fr", "es", "zh")


def _word(i: int) -> str:
    s = len(_SYLLABLES)
    return _SYLLABLES[i % s] + _SYLLABLES[(i // s) % s] + ("" if i < s * s else _SYLLABLES[i // (s * s) % s])


def corpus(seed: int, n_docs: int) -> pa.Table:
    """``n_docs`` documents: 90 % base documents and 10 % duplicates,
    half exact copies and half near copies (one token changed).

    Base documents draw 15-110 words, so short ones fail Gopher's 40-word
    floor, and 8 % carry no stop words at all; both quality classes are
    therefore present for the weak-label classifier. 4 % are packed with
    the blocklisted token ``dup``. Sources follow a skewed 12-way mix so
    the temperature mix has something to rebalance.
    """
    rng = np.random.Generator(np.random.PCG64(seed))
    vocab = 6000
    n_base = n_docs - n_docs // 10
    words = [_word(i) for i in range(vocab)]
    texts = []
    for i in range(n_base):
        n = int(rng.integers(15, 111))
        toks = [words[j] for j in rng.integers(0, vocab, n)]
        if rng.random() >= 0.08:
            for p in np.flatnonzero(rng.random(n) < 0.15):
                toks[p] = _STOP[int(rng.integers(0, len(_STOP)))]
        if rng.random() < 0.04:
            for p in np.flatnonzero(rng.random(n) < 0.2):
                toks[p] = "dup"
        texts.append(toks)
    n_dup = n_docs - n_base
    src = rng.choice(n_base, n_dup, replace=False)
    for j, s in enumerate(src):
        toks = list(texts[s])
        if j % 2:  # near copy: one token replaced
            toks[int(rng.integers(0, len(toks)))] = words[int(rng.integers(0, vocab))]
        texts.append(toks)
    text = [" ".join(t) for t in texts]
    source_w = 1.0 / np.sqrt(np.arange(1, 13))
    sources = rng.choice(12, n_docs, p=source_w / source_w.sum())
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": text,
        "lang": _pick(rng, _LANGS, n_docs),
        "source": [f"src{s}" for s in sources],
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def embeddings(seed: int, n: int) -> pa.Table:
    """64-dim unit vectors around 10 random label centres."""
    rng = np.random.Generator(np.random.PCG64(seed + 1))
    dim, labels = 64, 10
    centres = rng.standard_normal((labels, dim))
    lab = rng.integers(0, labels, n)
    v = centres[lab] + 1.5 * rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(lab, pa.int32()),
    })


def _stub_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    """Minimal relational tables in the fixture's schema: the catalog
    registers every table, but the curation workload reads none of them."""
    ts = lambda n: pa.array(_EPOCH_US + rng.integers(0, 30 * _DAY_US, n), pa.timestamp("us"))  # noqa: E731
    return {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({"c_custkey": pa.array(range(50), pa.int64()),
                              "c_name": [f"Customer#{i:09d}" for i in range(50)],
                              "c_nationkey": pa.array(rng.integers(0, 25, 50), pa.int32()),
                              "c_acctbal": rng.uniform(-999, 9999, 50).round(2),
                              "c_mktsegment": _pick(rng, ("BUILDING", "MACHINERY"), 50)}),
        "supplier": pa.table({"s_suppkey": pa.array(range(10), pa.int64()),
                              "s_name": [f"Supplier#{i:09d}" for i in range(10)],
                              "s_nationkey": pa.array(rng.integers(0, 25, 10), pa.int32()),
                              "s_acctbal": rng.uniform(-999, 9999, 10).round(2)}),
        "part": pa.table({"p_partkey": pa.array(range(50), pa.int64()),
                          "p_name": [f"part {i}" for i in range(50)],
                          "p_brand": [f"Brand#{i % 25 + 1}" for i in range(50)],
                          "p_type": _pick(rng, ("LARGE", "PROMO"), 50),
                          "p_size": pa.array(rng.integers(1, 51, 50), pa.int32()),
                          "p_retailprice": rng.uniform(900, 1000, 50).round(1)}),
        "orders": pa.table({"o_orderkey": pa.array(range(100), pa.int64()),
                            "o_custkey": pa.array(rng.integers(0, 50, 100), pa.int64()),
                            "o_orderstatus": _pick(rng, ("O", "F", "P"), 100),
                            "o_totalprice": rng.uniform(1000, 5e5, 100).round(2),
                            "o_orderdate": ts(100),
                            "o_orderpriority": _pick(rng, ("1-URGENT", "5-LOW"), 100)}),
        "lineitem": pa.table({"l_orderkey": pa.array(rng.integers(0, 100, 300), pa.int64()),
                              "l_partkey": pa.array(rng.integers(0, 50, 300), pa.int64()),
                              "l_suppkey": pa.array(rng.integers(0, 10, 300), pa.int64()),
                              "l_linenumber": pa.array(rng.integers(1, 8, 300), pa.int32()),
                              "l_quantity": rng.integers(1, 51, 300).astype(float),
                              "l_extendedprice": rng.uniform(900, 1e5, 300).round(2),
                              "l_discount": rng.integers(0, 11, 300) / 100.0,
                              "l_tax": rng.integers(0, 9, 300) / 100.0,
                              "l_returnflag": _pick(rng, ("N", "R", "A"), 300),
                              "l_linestatus": _pick(rng, ("O", "F"), 300),
                              "l_shipdate": ts(300)}),
        "events": pa.table({"event_id": pa.array(range(200), pa.int64()), "ts": ts(200),
                            "user_id": pa.array(rng.integers(0, 20, 200), pa.int64()),
                            "event_type": _pick(rng, ("view", "click", "purchase"), 200),
                            "value": rng.uniform(0, 500, 200).round(2),
                            "props": [f'{{"k": {i % 10}}}' for i in range(200)]}),
    }


def write_curation_fixture(sf_dir: str, seed: int, n_docs: int, n_vectors: int) -> dict[str, int]:
    """Write the curation catalog under ``sf_dir``; returns rows and
    bytes written (``rows``, ``bytes``)."""
    rng = np.random.Generator(np.random.PCG64(seed + 2))
    tables = _stub_tables(rng)
    tables["documents"] = corpus(seed, n_docs)
    tables["embeddings"] = embeddings(seed, n_vectors)
    rows = nbytes = 0
    for name, t in tables.items():
        nbytes += write_parquet(t, os.path.join(sf_dir, f"{name}.parquet"))
        rows += t.num_rows
    return {"rows": rows, "bytes": nbytes}
