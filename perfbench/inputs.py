"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed:

* ``write_tables(seed, out_dir)`` writes the ten star/event/document/
  embedding tables the registered queries read (same schemas and value
  domains as the project's sf fixtures, see FIXTURES.md section B), one
  parquet file per table.  The seed sets the row contents, the row
  order of every table (so which rows share a row group, the unit Spark
  splits a local parquet scan on), and which documents receive a
  planted near-duplicate copy.
* ``codec_objects(seed, n)`` builds the Python objects the codec
  round-trip encodes: nested containers, small tensors (stored as
  value lists), tensors of at least 2 KiB (stored packed) and wrapped
  callables.

Sizes are fixed constants so every seed does the same amount of work.
"""

from __future__ import annotations

import dataclasses
import functools
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when the generated content changes, so stale caches regenerate.
GEN_VERSION = 5

N_SUPPLIER = 100
N_CUSTOMER = 1_500
N_PART = 1_000
N_ORDERS = 7_500
N_EVENTS = 5_000
N_USERS = 150
N_DOCS = 300
NEAR_DUP_FRACTION = 0.2
N_VECTORS = 1_000
VEC_DIM = 64
N_CODEC_OBJECTS = 600

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "green", "large", "shiny", "steel", "tiny"]
PART_NOUN = ["widget", "bolt", "ring", "gear", "valve", "spring"]
PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small big customer query "
    "order group stream filter shuffle plan cache index page block file "
    "tensor model vector token batch split task stage job driver worker"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00


def _write(rng, out_dir: str, name: str, cols: dict) -> int:
    """Shuffle rows with ``rng`` and write parquet in four row groups
    (Spark splits a local parquet scan on row groups).  Returns the
    file size in bytes."""
    table = pa.table(cols)
    order = rng.permutation(table.num_rows)
    table = table.take(pa.array(order))
    groups = 4
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(
        table, path, row_group_size=max(1, -(-table.num_rows // groups))
    )
    return os.path.getsize(path)


def _ts(us: np.ndarray):
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _doc_text(rng, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def _near_dup(rng, text: str) -> str:
    """Copy of ``text`` with one or two words substituted."""
    words = text.split(" ")
    for _ in range(int(rng.integers(1, 3))):
        words[int(rng.integers(0, len(words)))] = VOCAB[
            int(rng.integers(0, len(VOCAB)))
        ]
    return " ".join(words)


def table_builders(seed: int) -> dict:
    """Column dicts of every table for ``seed``."""
    rng = np.random.default_rng(seed)
    t: dict = {}
    t["region"] = {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }
    t["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(N_SUPPLIER, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999, 9999, N_SUPPLIER), 2),
    }
    t["customer"] = {
        "c_custkey": np.arange(N_CUSTOMER, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999, 9999, N_CUSTOMER), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)],
    }
    retail = np.round(900 + (np.arange(N_PART) % 1000) / 10.0, 2)
    t["part"] = {
        "p_partkey": np.arange(N_PART, dtype="int64"),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(
                rng.integers(0, len(PART_ADJ), N_PART),
                rng.integers(0, len(PART_NOUN), N_PART),
            )
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, N_PART)],
        "p_size": rng.integers(1, 51, N_PART).astype("int32"),
        "p_retailprice": retail,
    }
    odate = _EPOCH_1995_US + rng.integers(0, 2404, N_ORDERS) * _DAY_US
    t["orders"] = {
        "o_orderkey": np.arange(N_ORDERS, dtype="int64"),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype("int64"),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, N_ORDERS), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)],
    }
    n_lines = rng.integers(1, 8, N_ORDERS)
    okey = np.repeat(np.arange(N_ORDERS, dtype="int64"), n_lines)
    lineno = np.concatenate([np.arange(1, n + 1) for n in n_lines]).astype("int32")
    n_li = len(okey)
    partkey = rng.integers(0, N_PART, n_li).astype("int64")
    qty = rng.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = {
        "l_orderkey": okey,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, N_SUPPLIER, n_li).astype("int64"),
        "l_linenumber": lineno,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [["O", "F"][i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, n_li) * _DAY_US),
    }
    ev_ts = np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, N_EVENTS))
    t["events"] = {
        "event_id": np.arange(N_EVENTS, dtype="int64"),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, N_USERS, N_EVENTS).astype("int64"),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.uniform(0, 20, N_EVENTS), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, N_EVENTS)],
    }
    texts = [_doc_text(rng, int(rng.integers(20, 80))) for _ in range(N_DOCS)]
    dup_src = rng.choice(N_DOCS, int(N_DOCS * NEAR_DUP_FRACTION), replace=False)
    for src in sorted(int(s) for s in dup_src):
        texts.append(_near_dup(rng, texts[src]))
    n_doc = len(texts)
    t["documents"] = {
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype="int64"),
    }
    centers = rng.normal(0, 1, (10, VEC_DIM))
    label = rng.integers(0, 10, N_VECTORS)
    vecs = (centers[label] + rng.normal(0, 0.5, (N_VECTORS, VEC_DIM))) / 10.0
    t["embeddings"] = {
        "vec_id": np.arange(N_VECTORS, dtype="int64"),
        "embedding": pa.array(
            list(vecs.astype("float32")), type=pa.list_(pa.float32())
        ),
        "label": label.astype("int32"),
    }
    return t


def write_tables(seed: int, out_dir: str) -> dict:
    """Write every table for ``seed`` into ``out_dir`` (reused when a
    complete copy for this seed and generator version is there).
    Returns ``{"rows": {table: n}, "bytes": {table: n}, ...}``."""
    manifest = os.path.join(out_dir, "_manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            meta = json.load(f)
        if meta.get("version") == GEN_VERSION and meta.get("seed") == seed:
            return meta
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    cols = table_builders(seed)
    rng = np.random.default_rng([seed, 1])
    meta = {"version": GEN_VERSION, "seed": seed, "rows": {}, "bytes": {}}
    for name in sorted(cols):
        meta["bytes"][name] = _write(rng, out_dir, name, cols[name])
        meta["rows"][name] = len(next(iter(cols[name].values())))
    tmp = manifest + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, manifest)
    return meta


# ---------------------------------------------------------------------------
# Codec objects
# ---------------------------------------------------------------------------


@dataclasses.dataclass
class Box:
    x: float
    y: float
    w: float
    h: float


@dataclasses.dataclass
class Sample:
    """One codec round-trip object: scalars, nested containers, a
    nested object, a small tensor (value list), a tensor of at least
    2 KiB (packed bytes) and a wrapped callable."""

    sample_id: int
    name: str
    score: float
    tags: list
    attrs: dict
    boxes: list
    small: np.ndarray
    big: np.ndarray
    fn: object


def scale_by(k: float, x: float) -> float:
    return k * x


def codec_objects(seed: int) -> list:
    from oarphpy_spark.codec.callables import CloudpickeledCallable

    rng = np.random.default_rng([seed, 2])
    objs = []
    for i in range(N_CODEC_OBJECTS):
        k = float(rng.integers(1, 9))
        # Alternate a by-reference partial and a by-value lambda.
        fn = functools.partial(scale_by, k) if i % 2 else (lambda x, k=k: x + k)
        big_rows = int(rng.integers(16, 25))
        objs.append(
            Sample(
                sample_id=i,
                name=f"sample-{seed}-{i}",
                score=float(rng.normal()),
                tags=[VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(1, 5)))],
                attrs={f"a{j}": float(rng.normal()) for j in range(int(rng.integers(1, 4)))},
                boxes=[
                    Box(*map(float, rng.uniform(0, 100, 4)))
                    for _ in range(int(rng.integers(1, 4)))
                ],
                small=rng.normal(size=(3, 3)).astype("float32"),
                big=rng.normal(size=(big_rows, 32)).astype("float32"),
                fn=CloudpickeledCallable(fn),
            )
        )
    return objs


def payload_bytes(obj) -> int:
    """User payload of one object: string bytes, 8 per number, tensor
    bytes and the pickled callable."""
    from oarphpy_spark.codec.callables import CloudpickeledCallable

    if isinstance(obj, str):
        return len(obj.encode())
    if isinstance(obj, (int, float)):
        return 8
    if isinstance(obj, np.ndarray):
        return obj.nbytes
    if isinstance(obj, CloudpickeledCallable):
        return len(obj.to_row()["func_bytes"])
    if isinstance(obj, dict):
        return sum(payload_bytes(k) + payload_bytes(v) for k, v in obj.items())
    if isinstance(obj, (list, tuple)):
        return sum(payload_bytes(v) for v in obj)
    return sum(payload_bytes(getattr(obj, f.name)) for f in dataclasses.fields(obj))
