"""Seeded input generators.

Everything the benchmark feeds the program is made here from
``--seed``; the same seed gives byte-identical inputs.

* ``write_tables``: the ten catalog tables at the sf0.1 shape (row
  counts and marginals of the engine's fixture tables: uniform
  TPC-H-style star schema, 100k events over 1,500 users, 5,000 documents
  over a 30-word vocabulary with planted near-duplicates, 2,000 unit
  64-d embeddings with 10 labels).
* ``write_changelog``: a Kafka-shaped keyed stream (key, value,
  timestamp, event_id) as one parquet file per micro-batch, plus the
  generator's own model of the table it should produce.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- batch tables ------------------------------------------------------------

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "old")
PART_NOUN = ("bolt", "gear", "plate", "ring")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
EVENT_USERS = 1_500
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _documents(rng) -> dict:
    n = SF01_ROWS["documents"]
    lens = rng.integers(10, 101, n)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in lens]
    # planted duplicates: a few exact copies and ~4 % near-duplicates
    # (one word swapped for "dup"), the shape the dedup queries look for
    for i in rng.choice(n, 8, replace=False):
        texts[i] = texts[(i + 1) % n]
    for i in rng.choice(n, n // 25, replace=False):
        words = texts[(i + 7) % n].split()
        words[rng.integers(0, len(words))] = "dup"
        texts[i] = " ".join(words)
    return {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": np.char.add("src", (np.arange(n) % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def _embeddings(rng) -> dict:
    n = SF01_ROWS["embeddings"]
    x = rng.standard_normal((n, 64)).astype("float32")
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype("int32"),
    }


def write_tables(out_dir: str, seed: int) -> None:
    """The ten catalog tables, one parquet file each, in ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    p = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731
    r = SF01_ROWS
    _write(p("region"), {
        "r_regionkey": np.arange(5, dtype="int32"), "r_name": list(REGIONS)})
    _write(p("nation"), {
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32")})
    nc = r["customer"]
    _write(p("customer"), {
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})
    ns = r["supplier"]
    _write(p("supplier"), {
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = r["part"]
    _write(p("part"), {
        "p_partkey": np.arange(npart, dtype="int64"),
        "p_name": np.char.add(
            np.char.add(np.array(PART_ADJ)[rng.integers(0, 5, npart)], " "),
            np.array(PART_NOUN)[rng.integers(0, 4, npart)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(npart) % 20000) / 10, 2)})
    no = r["orders"]
    _write(p("orders"), {
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, nc, no).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, 2404, no) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})
    nl = r["lineitem"]
    _write(p("lineitem"), {
        "l_orderkey": rng.integers(0, no, nl).astype("int64"),
        "l_partkey": rng.integers(0, npart, nl).astype("int64"),
        "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
        "l_linenumber": rng.integers(1, 8, nl).astype("int32"),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(EPOCH_1995_US + rng.integers(1, 2500, nl) * DAY_US)})
    ne = r["events"]
    _write(p("events"), {
        "event_id": np.arange(ne, dtype="int64"),
        "ts": _ts(np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, ne))),
        "user_id": rng.integers(0, EVENT_USERS, ne).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    _write(p("documents"), _documents(rng))
    _write(p("embeddings"), _embeddings(rng))


# -- the changelog stream ----------------------------------------------------

@dataclass
class Changelog:
    """What was generated, in generation (= event) order."""

    files: list[str] = field(default_factory=list)
    file_rows: list[int] = field(default_factory=list)
    model: dict = field(default_factory=dict)  # key -> latest value (None = tombstone)
    never_seen: list[str] = field(default_factory=list)
    n_records: int = 0

    def live(self) -> dict:
        return {k: v for k, v in self.model.items() if v is not None}

    def filtered(self) -> dict:
        return {
            k: v for k, v in self.model.items()
            if v is not None and k.lower() == v.lower()
        }


def key_names(ids: np.ndarray) -> np.ndarray:
    return np.char.add("k", ids.astype(str))


HOT_KEYS = 200
HOT_SHARE = 0.2
TOMBSTONE_SHARE = 0.05
KEY_EQ_VALUE_SHARE = 0.30


def write_changelog(out_dir: str, seed: int, keyspace: int, n_batches: int,
                    batch_records: int) -> Changelog:
    """File 0 loads the standing keyspace (one record per key); files
    1..n_batches hold ``batch_records`` records each: keys uniform over
    the keyspace plus a HOT_SHARE of draws from HOT_KEYS keys with
    Zipf-like weights. A TOMBSTONE_SHARE of values is null and a
    KEY_EQ_VALUE_SHARE equals the key (a third of those in upper case,
    which the case-insensitive filter must still keep)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    hot = rng.choice(keyspace, HOT_KEYS, replace=False)
    hot_w = 1.0 / np.arange(1, HOT_KEYS + 1)
    hot_w /= hot_w.sum()
    log = Changelog()
    next_id = 0
    for i in range(n_batches + 1):
        if i == 0:
            ids = rng.permutation(keyspace)
        else:
            ids = rng.integers(0, keyspace, batch_records)
            is_hot = rng.random(batch_records) < HOT_SHARE
            ids[is_hot] = hot[rng.choice(HOT_KEYS, int(is_hot.sum()), p=hot_w)]
        n = len(ids)
        keys = key_names(ids)
        r = rng.random(n)
        other = np.char.add("v", rng.integers(0, 1000, n).astype(str))
        eq = np.where(rng.random(n) < 1 / 3, np.char.upper(keys), keys)
        values = np.where(r < KEY_EQ_VALUE_SHARE, eq, other).astype(object)
        values[r >= 1.0 - TOMBSTONE_SHARE] = None
        event_ids = np.arange(next_id, next_id + n, dtype="int64")
        next_id += n
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(pa.table({
            "key": keys.astype(object),
            "value": values,
            "timestamp": _ts(EPOCH_2024_US + event_ids * 1000),
            "event_id": event_ids,
        }), path)
        # the file source orders new files by modification time
        os.utime(path, (1_600_000_000 + i, 1_600_000_000 + i))
        log.files.append(path)
        log.file_rows.append(n)
        log.model.update(zip(keys.tolist(), values.tolist()))
        log.n_records += n
    log.never_seen = key_names(
        np.arange(keyspace, keyspace + 64)
    ).tolist()
    return log
