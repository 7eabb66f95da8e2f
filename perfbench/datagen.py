"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, size)``: numpy's PCG64 stream
seeded once per table, no wall-clock or environment input. ``digest``
hashes table *content* (Arrow IPC bytes), so two runs with one seed can
show they read identical input even if the parquet writer changes.

Schemas mirror the repository's ``events`` test table
(``event_id, ts, user_id, event_type, value, props``) and, for the
operators workload, the ``lineitem``, ``documents`` and ``embeddings``
tables the extension catalog reads.
"""

from __future__ import annotations

import hashlib
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "view", "click", "purchase", "error"])
EVENT_TYPE_P = [0.10, 0.35, 0.30, 0.15, 0.10]
TS0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in epoch microseconds
SPAN_US = 30 * 86_400 * 1_000_000
WORDS = np.array(
    "key agg row scan slow fast table value part hash merge batch spark a "
    "the line sort window data column join small customer query big "
    "order group stream filter vector".split())
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]


def _rng(seed: int, table: str) -> np.random.Generator:
    # one independent stream per table, so adding a table never shifts
    # the bytes of another
    return np.random.default_rng([seed, zlib.crc32(table.encode())])


def digest(tables: dict[str, pa.Table]) -> str:
    """sha256 over the tables' Arrow IPC serialization, in name order."""
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def _group_ids(rng: np.random.Generator, n_rows: int, n_users: int,
               whale_share: float) -> np.ndarray:
    """Group id per row. ``whale_share == 0``: every row picks a user
    uniformly (hash-like spread). Otherwise group sizes are heavy-tailed
    (Pareto, alpha 1.2, capped at 100x the median so the tail stays below
    the whale) and one whale user holds ``whale_share`` of rows."""
    if whale_share <= 0:
        ids = rng.integers(0, n_users, n_rows)
    else:
        n_whale = int(n_rows * whale_share)
        weights = rng.pareto(1.2, n_users - 1) + 1.0
        weights = np.minimum(weights, 100 * np.median(weights))
        sizes = np.floor(weights / weights.sum() * (n_rows - n_whale)).astype(
            np.int64)
        sizes = np.maximum(sizes, 1)
        # trim or pad the rounding remainder onto random users
        diff = (n_rows - n_whale) - int(sizes.sum())
        while diff != 0:
            idx = rng.integers(0, n_users - 1, abs(diff))
            step = 1 if diff > 0 else -1
            np.add.at(sizes, idx, step)
            sizes = np.maximum(sizes, 1)
            diff = (n_rows - n_whale) - int(sizes.sum())
        ids = np.concatenate([np.repeat(np.arange(1, n_users), sizes),
                              np.zeros(n_whale, dtype=np.int64)])
        rng.shuffle(ids)
    # scatter ids over a wide range (multiplicative hash mod 2^31)
    return (ids.astype(np.int64) * 2_654_435_761) % (1 << 31)


def events(seed: int, n_rows: int, n_users: int, whale_share: float = 0.0,
           ts_type: str = "int64") -> pa.Table:
    """Event rows sorted by time. ``ts`` is epoch microseconds, stored as
    int64 (numeric timestamp, the reference's shape) or as
    ``timestamp[us]`` (the shape of the repository's test table)."""
    rng = _rng(seed, f"events-{whale_share}")
    user = _group_ids(rng, n_rows, n_users, whale_share)
    ts = np.sort(TS0_US + rng.integers(0, SPAN_US, n_rows))
    etype = EVENT_TYPES[rng.choice(len(EVENT_TYPES), n_rows, p=EVENT_TYPE_P)]
    value = np.round(rng.uniform(0.0, 200.0, n_rows), 2)
    k = rng.integers(0, 100, n_rows)
    props = np.char.add(np.char.add('{"k": ', k.astype(str)), "}")
    ts_arr = (pa.array(ts, pa.int64()) if ts_type == "int64"
              else pa.array(ts, pa.int64()).cast(pa.timestamp("us")))
    return pa.table({
        "event_id": pa.array(np.arange(n_rows, dtype=np.int64)),
        "ts": ts_arr,
        "user_id": pa.array(user),
        "event_type": pa.array(etype),
        "value": pa.array(value),
        "props": pa.array(props),
    })


def documents(seed: int, n_docs: int) -> pa.Table:
    """Word-salad documents over a small vocabulary; about 5% are exact
    copies and 5% one-word edits of earlier documents, so the dedup
    operators have work to find."""
    rng = _rng(seed, "documents")
    lens = rng.integers(8, 90, n_docs)
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), n)]) for n in lens]
    for i in range(n_docs // 10, n_docs):
        r = rng.random()
        if r < 0.05:
            texts[i] = texts[rng.integers(0, i)]
        elif r < 0.10:
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = str(WORDS[rng.integers(
                0, len(WORDS))])
            texts[i] = " ".join(words)
    lang = LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)]
    source = np.char.add("src", (np.arange(n_docs) % 20).astype(str))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array(source),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


def embeddings(seed: int, n_vecs: int, dim: int = 64,
               n_labels: int = 10) -> pa.Table:
    """Unit vectors scattered around one random centroid per label."""
    rng = _rng(seed, "embeddings")
    centroids = rng.normal(size=(n_labels, dim))
    label = rng.integers(0, n_labels, n_vecs)
    vecs = centroids[label] + rng.normal(scale=0.8, size=(n_vecs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_vecs * dim + 1, dim, dtype=np.int32)),
            flat),
        "label": pa.array(label.astype(np.int32)),
    })


def lineitem(seed: int, n_orders: int) -> pa.Table:
    """TPC-H-shaped line items: 1-7 per order, uniform keys and flags."""
    rng = _rng(seed, "lineitem")
    day_us = 86_400 * 1_000_000
    d0 = 694_224_000 * 1_000_000  # 1992-01-01
    per_order = rng.integers(1, 8, n_orders)
    n = int(per_order.sum())
    qty = rng.integers(1, 51, n).astype(np.float64)
    odate = np.repeat(d0 + rng.integers(0, 2400, n_orders) * day_us,
                      per_order)
    return pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_orders, dtype=np.int64),
                                         per_order)),
        "l_partkey": pa.array(rng.integers(0, max(n_orders // 8, 10), n)),
        "l_suppkey": pa.array(rng.integers(0, max(n_orders // 150, 5), n)),
        "l_linenumber": pa.array(np.concatenate(
            [np.arange(1, k + 1) for k in per_order]).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(
            qty * rng.uniform(900, 2000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(odate + rng.integers(1, 122, n) * day_us,
                               pa.int64()).cast(pa.timestamp("us")),
    })


def write_parts(table: pa.Table, directory: str, n_files: int) -> list[str]:
    """Write ``table`` as ``n_files`` parquet parts of contiguous rows."""
    os.makedirs(directory, exist_ok=True)
    paths = []
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        p = os.path.join(directory, f"part-{i:03d}.parquet")
        pq.write_table(table.slice(i * step, step), p)
        paths.append(p)
    return paths
