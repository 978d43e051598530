"""Seeded input lakes for the benchmark.

Three lakes, each a pure function of ``(seed, size)``:

- ``event_lake``: ``events`` + ``nation`` in the ``{dir}/{table}.parquet``
  layout ``io.read_table`` reads.  ``events`` is a directory of one
  time-ordered file per day (row-group statistics let a date window skip
  whole files).
- ``raw_lake``: nested events in ``sources.events.RAW_SCHEMA`` (message /
  reaction / subscription), the input of ``sources.mover``.
- ``registry_lake``: the tables the graph and similarity queries read
  (``events`` and ``embeddings``), one file each, as in the testdata.

The traffic has the shape of the read-only sf0.1 testdata (seed 42),
measured once by ``measure.py`` into ``sf01_shape.json``: per-user event
counts with no skew, five equally likely event types, 100 purchase keys,
exponential values, isotropic unit embeddings.  A size sets only the event
count; users follow from ``EVENTS_PER_USER`` and the key count stays 100,
as in the testdata at every scale factor.

Lakes are generated once into a cache directory keyed by (kind, seed, size)
and reused; generation is never inside a timed region.  The cache entry is
written to a temporary name and renamed, so an interrupted generation never
leaves a half lake behind.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: last day of every lake; the datamart job dates in config/config.yaml
#: (2024-01-30 depth 30, 2024-01-14 depth 7) fall inside it, and so does
#: the testdata's 2024-01-01..2024-01-30
END_DATE = dt.date(2024, 1, 30)
#: days per lake: the event lake spans two 30-day windows, the raw lake is
#: one mover batch, the registry lake spans the testdata's 30 days
DAYS = {"event": 60, "raw": 14, "registry": 30}

# --- measured on sf0.1 (sf01_shape.json) -----------------------------------
#: 100,000 events over 1,500 users; per user 45 / 66 / 99 (min / median /
#: max) and the top 10% of users hold 12% of events, so users are drawn
#: uniformly (a Poisson count per user)
EVENTS_PER_USER = 100_000 / 1_500
#: shares 0.198-0.203 each
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
#: ``props`` is ``{"k": <0..99>}``, uniform, 100 keys at every scale factor
KEYS = 100
#: value mean 49.87, sd 49.56, median 34.77 (50 ln 2 = 34.66): exponential
VALUE_MEAN = 50.0
#: 2,000 64-d unit vectors in 10 labels; each label's mean vector has norm
#: <= 0.076 (about 1/sqrt(200)), so labels carry no cluster structure
DIM, LABELS = 64, 10
#: the mover's three raw types, equally likely like the event types above
RAW_TYPES = ("message", "reaction", "subscription")

#: named sizes: rows of the main table (and vectors for the registry lake),
#: small enough that one run takes about a minute on 4 cores (README.md)
SIZES = {
    "event": {"events": 60_000},
    "raw": {"events": 90_000},
    # the testdata's shape at sf0.03 (sf0.1's 2,000 vectors)
    "registry": {"events": 30_000, "vectors": 2_000},
    # the testdata's sf0.1 size, for the shape test
    "sf0.1": {"events": 100_000, "vectors": 2_000},
    # test-sized twin, same code path
    "tiny": {"events": 2_000, "vectors": 50},
}


def users_for(events: int) -> int:
    return max(1, round(events / EVENTS_PER_USER))


def _start_us(days: int) -> int:
    start = dt.datetime.combine(END_DATE - dt.timedelta(days=days - 1), dt.time())
    return int((start - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _sorted_ts(rng: np.random.Generator, n: int, days: int) -> np.ndarray:
    return np.sort(_start_us(days) + rng.integers(0, days * 86_400_000_000, n))


def _write_by_day(table: pa.Table, ts_us: np.ndarray, days: int, out_dir: str) -> None:
    """One parquet file per calendar day, in time order."""
    os.makedirs(out_dir)
    day = (ts_us - _start_us(days)) // 86_400_000_000
    bounds = np.searchsorted(day, np.arange(days + 1))
    for d in range(days):
        lo, hi = int(bounds[d]), int(bounds[d + 1])
        if hi > lo:
            pq.write_table(table.slice(lo, hi - lo), f"{out_dir}/part-{d:03d}.parquet")


def _events_table(rng: np.random.Generator, n: int, days: int) -> tuple[pa.Table, np.ndarray]:
    """``events`` in the testdata's schema; ``event_id`` follows time order."""
    ts = _sorted_ts(rng, n, days)
    etype = rng.integers(0, len(EVENT_TYPES), n)
    k = rng.integers(0, KEYS, n)
    value = np.round(rng.exponential(VALUE_MEAN, n), 2)
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users_for(n), n)),
            "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[etype]),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {int(x)}}}' for x in k]),
        }
    )
    return table, ts


def _nation_table() -> pa.Table:
    keys = np.arange(25, dtype=np.int32)
    return pa.table(
        {
            "n_nationkey": pa.array(keys),
            "n_name": pa.array([f"NATION_{i}" for i in keys]),
            "n_regionkey": pa.array(keys % 5),
        }
    )


def _gen_event(rng: np.random.Generator, size: dict, out: str) -> None:
    days = DAYS["event"]
    events, ts = _events_table(rng, size["events"], days)
    _write_by_day(events, ts, days, f"{out}/events.parquet")
    pq.write_table(_nation_table(), f"{out}/nation.parquet")


def _gen_registry(rng: np.random.Generator, size: dict, out: str) -> None:
    events, _ = _events_table(rng, size["events"], DAYS["registry"])
    pq.write_table(events, f"{out}/events.parquet")
    n = size["vectors"]
    vec = rng.normal(0, 1, (n, DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, LABELS, n).astype(np.int32)),
        }
    )
    pq.write_table(emb, f"{out}/embeddings.parquet")


def _masked(values, keep: np.ndarray, type_=None) -> pa.Array:
    return pa.array(values, mask=~keep, type=type_)


def _raw_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Nested raw events, sparse by type the way the reference's raw layer
    is: each type fills only its own fields of the ``event`` struct.  The
    testdata has no raw layer; users and type shares follow the measured
    events table, and the raw-only fields (channels, media, tags) fill at
    fixed rates that change only the bytes the mover writes."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from spark_hadoop_automation_in_cloud_spark.sources.events import RAW_SCHEMA

    schema = to_arrow_schema(RAW_SCHEMA)
    ts = _sorted_ts(rng, n, DAYS["raw"])
    stamp = np.char.replace(
        np.datetime_as_string((ts // 1_000_000).astype("datetime64[s]")), "T", " "
    )
    frac = np.char.zfill(rng.integers(0, 1_000_000, n).astype(str), 6)
    kind = rng.integers(0, len(RAW_TYPES), n)
    msg, rea, sub = (kind == i for i in range(3))
    idx = np.arange(n, dtype=np.int64)
    users = users_for(n)
    user = rng.integers(0, users, n)
    other = rng.integers(0, users, n)
    chan = rng.integers(0, 500, n)
    media_on = msg & (idx % 11 == 0)
    tags_on = msg & (idx % 5 == 0)
    strs = lambda fmt, xs: [fmt % x for x in xs]  # noqa: E731
    children = {
        "admins": _masked([[f"a{c % 17}"] for c in chan], sub),
        "channel_id": _masked(chan, sub, pa.int64()),
        "datetime": pa.array(stamp),
        "media": pa.StructArray.from_arrays(
            [pa.array(np.full(n, "img")), pa.array(strs("s3://m/%d", idx))],
            names=["media_type", "src"],
            mask=pa.array(~media_on),
        ),
        "message": _masked(strs("m%d", idx % 977), msg),
        "message_channel_to": _masked(chan, msg & (idx % 3 == 0), pa.int64()),
        "message_from": _masked(user, msg, pa.int64()),
        "message_group": _masked(chan, msg & (idx % 7 == 0), pa.int64()),
        "message_id": _masked(np.where(rea, idx // 3, idx), msg | rea, pa.int64()),
        "message_to": _masked(other, msg, pa.int64()),
        "message_ts": _masked(np.char.add(np.char.add(stamp, "."), frac), msg),
        "reaction_from": _masked(user, rea, pa.int64()),
        "reaction_type": _masked(np.where(idx % 2 == 0, "like", "dislike"), rea),
        "subscription_channel": _masked(chan, sub, pa.int64()),
        "subscription_user": _masked(other, sub, pa.int64()),
        "tags": _masked([[f"t{i % 13}"] for i in idx], tags_on),
        "user": _masked(user, sub, pa.int64()),
    }
    event_type = schema.field("event").type
    event = pa.StructArray.from_arrays(
        [children[f.name].cast(f.type) for f in event_type], fields=list(event_type)
    )
    return pa.table(
        {
            "event": event,
            "event_type": pa.array(np.array(RAW_TYPES)[kind]),
            "lat": pa.array(np.round(rng.uniform(-60, 60, n), 6)),
            "lon": pa.array(np.round(rng.uniform(-170, 170, n), 6)),
        },
        schema=schema,
    )


def _gen_raw(rng: np.random.Generator, size: dict, out: str) -> None:
    raw = _raw_table(rng, size["events"])
    os.makedirs(out + "/raw")
    parts = 8
    step = -(-raw.num_rows // parts)
    for p in range(parts):
        pq.write_table(raw.slice(p * step, step), f"{out}/raw/part-{p:03d}.parquet")


_GENERATORS = {"event": _gen_event, "raw": _gen_raw, "registry": _gen_registry}


def lake(cache_dir: str, kind: str, seed: int, size: str | None = None) -> str:
    """Path of the ``kind`` lake for ``seed``; generated on first use.

    ``size`` names an entry of ``SIZES`` (default: the kind's own); the
    cache key carries the size's values, so resizing never reuses a stale
    lake."""
    size = size or kind
    knobs = hashlib.sha256(json.dumps(SIZES[size], sort_keys=True).encode()).hexdigest()[:8]
    out = os.path.join(cache_dir, f"{kind}-{size}-{knobs}-seed{seed}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # one stream per (kind, seed): the same seed gives the same lake
    rng = np.random.default_rng([seed, sorted(_GENERATORS).index(kind)])
    _GENERATORS[kind](rng, SIZES[size], tmp)
    os.rename(tmp, out)
    return out


def content_hash(root: str) -> str:
    """sha256 over every file's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def input_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )


def event_rows(root: str) -> int:
    """Rows of the lake's events: its ``events`` table, or every row of a
    raw lake."""
    events = os.path.join(root, "events.parquet")
    return input_rows(events if os.path.exists(events) else root)


def input_rows(root: str) -> int:
    if os.path.isfile(root):
        return pq.ParquetFile(root).metadata.num_rows
    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    )
