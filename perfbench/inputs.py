"""Seeded input generators.  The program under test only ever sees what
these write: EP2 frame files and the ten registry tables."""

from __future__ import annotations

import os
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GAP = 300  # the reference consumer's session gap, in frames
FRAME_SCHEMA = pa.schema([("video_id", pa.string()), ("frame_number", pa.int64())])
FRAME_DDL = "video_id string, frame_number long"


@dataclass
class Sizes:
    """Input sizes of every workload; `tiny()` is the smoke mode's."""

    drain_videos: int = 128
    drain_frames: int = 48_000
    drain_files: int = 4  # micro-batches
    live_videos: int = 32
    live_per_tick: int = 3  # frames per camera per tick: 30 fps
    live_tick_s: float = 0.1  # one file per tick
    live_gap_prob: float = 1 / 300  # per frame: a session closes every ~10 s
    live_soak_s: float = 3.0  # least generator time before the measured window
    live_trigger_s: float = 3.0  # micro-batch interval
    warm_frames: int = 1_000
    registry_sf: float = 0.01

    @classmethod
    def tiny(cls) -> "Sizes":
        return cls(
            drain_videos=8, drain_frames=3_000, drain_files=2, live_videos=8,
            live_per_tick=2, live_tick_s=0.2, live_gap_prob=0.05, live_soak_s=1.0,
            live_trigger_s=1.0,
            warm_frames=500, registry_sf=0.001,
        )


@dataclass
class Frames:
    """A frame list in arrival order.  `video` indexes `names`."""

    names: list[str]
    video: np.ndarray  # int32, per frame
    frame_number: np.ndarray  # int64, per frame

    def head(self, n: int) -> "Frames":
        return Frames(self.names, self.video[:n], self.frame_number[:n])

    def table(self, sl: slice = slice(None)) -> pa.Table:
        vids = np.asarray(self.names, dtype=object)[self.video[sl]]
        return pa.table(
            {"video_id": vids, "frame_number": self.frame_number[sl]},
            schema=FRAME_SCHEMA,
        )


def _frame_numbers(rng: np.random.Generator, n: int, gaps: int) -> np.ndarray:
    """`n` strictly increasing frame numbers with `gaps` jumps wider than
    GAP, each of which closes a session mid-stream."""
    steps = np.ones(n, dtype=np.int64)
    if n > 1 and gaps:
        at = rng.choice(np.arange(1, n), size=min(gaps, n - 1), replace=False)
        steps[at] = rng.integers(GAP + 1, 3 * GAP, size=len(at))
    return int(rng.integers(0, 10_000)) + np.cumsum(steps)


def backlog(
    rng: np.random.Generator, tag: str, n_videos: int, n_frames: int,
    frames_per_gap: int = 1500, zipf_s: float = 1.1,
) -> Frames:
    """An outage backlog: `n_frames` from `n_videos` cameras with
    Zipf-skewed lengths, interleaved in arrival order (each camera's
    frames spread evenly over the outage, at a seeded phase)."""
    ranks = rng.permutation(n_videos) + 1.0
    w = ranks**-zipf_s
    lengths = 1 + rng.multinomial(n_frames - n_videos, w / w.sum())
    video, fn, key = [], [], []
    for v, n in enumerate(lengths):
        gaps = rng.poisson(n / frames_per_gap)
        video.append(np.full(n, v, dtype=np.int32))
        fn.append(_frame_numbers(rng, n, gaps))
        key.append((np.arange(n) + rng.random()) / n)
    order = np.argsort(np.concatenate(key), kind="stable")
    return Frames(
        [f"cam-{tag}-{v:04d}" for v in range(n_videos)],
        np.concatenate(video)[order],
        np.concatenate(fn)[order],
    )


def live_schedule(
    rng: np.random.Generator, tag: str, n_videos: int, n_ticks: int,
    per_tick: int, gap_prob: float,
) -> Frames:
    """Steady traffic: every tick each camera emits `per_tick` frames;
    with probability `gap_prob` per frame a camera skips more than GAP
    frame numbers, which closes its session.  Frames are in tick order,
    n_videos·per_tick per tick."""
    steps = n_ticks * per_tick
    jumps = np.where(
        rng.random((steps, n_videos)) < gap_prob,
        rng.integers(GAP + 1, 3 * GAP, size=(steps, n_videos)),
        1,
    )
    jumps[0] = 1
    fn = rng.integers(0, 10_000, size=n_videos) + np.cumsum(jumps, axis=0)
    video = np.tile(np.arange(n_videos, dtype=np.int32), steps)
    return Frames(
        [f"live-{tag}-{v:04d}" for v in range(n_videos)], video, fn.reshape(-1)
    )


def write_frames(table: pa.Table, directory: Path, name: str) -> Path:
    """Write one source file atomically: Spark's file source skips names
    starting with '_' while the write is in flight."""
    tmp = directory / f"_{name}"
    pq.write_table(table, tmp)
    out = directory / name
    os.replace(tmp, out)
    return out


# -- registry tables -------------------------------------------------------

_WORDS = (
    "a the big small fast slow key value row column table part hash merge "
    "sort scan filter join group agg window batch stream spark query data "
    "order line customer vector"
).split()
_ADJ = "red small hot old large blue green cold".split()
_NOUN = "ring widget plate rod gear bolt pipe cable".split()


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def registry_tables(rng: np.random.Generator, out: Path, sf: float) -> dict[str, int]:
    """The ten tables the registry queries read, in the shapes and value
    domains of the TPC-H-like fixture (orders 1.5M·sf rows, lineitem
    6M·sf, events 1M·sf; 500 documents and 500 embeddings).  Returns
    row counts by table."""
    out.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    i32 = np.int32
    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2400, n_ord),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2500, n_li),
    }
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(
        rng.exponential(30 * 86_400e6 / n_ev, n_ev)
    ).astype("timedelta64[us]")
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(60.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    n_doc = 500
    texts = [" ".join(rng.choice(_WORDS, rng.integers(8, 90))) for _ in range(n_doc)]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):  # exact duplicates
        texts[i] = texts[(i + 1) % n_doc]
    t["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], n_doc, p=[0.1, 0.6, 0.1, 0.1, 0.1]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    labels = rng.integers(0, 10, n_doc)
    centers = rng.normal(0, 0.2, (10, 64))
    emb = (centers[labels] + rng.normal(0, 0.08, (n_doc, 64))).astype(np.float32)
    t["embeddings"] = {
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": labels.astype(i32),
    }
    counts = {}
    for name, cols in t.items():
        table = pa.table(cols)
        pq.write_table(table, out / f"{name}.parquet")
        counts[name] = table.num_rows
    return counts
