"""Seeded benchmark inputs.

Two input families, both a pure function of the seed (and, for the
corpus, its size):

- ``gen_tables``: the ten registry tables (TPC-H-like star schema plus
  ``events``, ``documents`` and ``embeddings``) with the schemas and value
  domains of the engine's sf0.01 test data.
- ``gen_qcew_corpus``: the fixed-width QCEW tree (8 quarter files of
  1060-char records, ~8% dirty lines, one empty file) plus the NAICS dims
  and the wage-fact CSVs the dashboard reads.

Both write into a directory named by those inputs and mark it complete
only after every file landed, so a cached copy is always whole.
"""

from __future__ import annotations

import csv
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: row counts per table (the engine's sf0.01 test shape)
BASE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
USERS_PER_EVENT = 150 / 10000
EMBED_DIM = 64
EMBED_LABELS = 10

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "new", "large", "hot", "cold", "blue", "old", "red"]
_PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PART_TYPES = ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column order small big query join filter group "
    "stream vector customer"
).split()
_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _mark_done(path: str) -> None:
    open(os.path.join(path, ".complete"), "w").close()


def _cached(path: str) -> bool:
    return os.path.exists(os.path.join(path, ".complete"))


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _ts(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _docs(rng: np.random.Generator, n: int) -> list[str]:
    """Word-bag documents; ~10% are near-copies (a few tokens swapped or a
    trailing marker) and ~1% exact copies of an earlier document, so the
    dedup and similarity families have real pairs to find."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.11:
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), size=max(1, len(toks) // 20)):
                toks[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            if rng.random() < 0.5:
                toks.append("dup")
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(10, 90))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return texts


def gen_tables(root: str, seed: int) -> str:
    """Write the ten registry tables for ``seed`` under ``root``; returns
    the table directory (cached)."""
    out = os.path.join(root, f"tables_s{seed}")
    if _cached(out):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng(seed)
    n = BASE_ROWS

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    npart = n["part"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2),
    })
    no = n["orders"]
    day_us = 86_400_000_000
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [["O", "F", "P"][i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 400000, no), 2),
        "o_orderdate": _ts(_EPOCH_1995, rng.integers(0, 2404, no) * day_us),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    okeys = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(float)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [["N", "A", "R"][i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [["O", "F"][i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(_EPOCH_1995 + np.timedelta64(1, "D"),
                          rng.integers(0, 2498, nl) * day_us),
    })
    ne = n["events"]
    users = max(2, int(round(ne * USERS_PER_EVENT)))
    offs = np.sort(rng.integers(0, 30 * day_us, ne))
    _write(out, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(_EPOCH_2024, offs),
        "user_id": pa.array(rng.integers(0, users, ne), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(60.0, ne), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = _docs(rng, nd)
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, EMBED_LABELS, nv)
    centers = rng.normal(0, 1, (EMBED_LABELS, EMBED_DIM))
    vecs = centers[labels] * 0.3 + rng.normal(0, 1, (nv, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    _mark_done(out)
    return out


def gen_qcew_corpus(root: str, seed: int, lines_per_file: int) -> dict:
    """Fixed-width QCEW tree for ``(seed, lines_per_file)``: 2 years × 4
    quarters of records through ``tests.qcew_fixtures.gen_quarter_file``
    (its dirty-line mix), one empty file, the NAICS dims and seeded
    wage-fact CSVs. Returns the paths and the input byte/line counts."""
    from tests.qcew_fixtures import gen_dims, gen_quarter_file

    out = os.path.join(root, f"qcew_s{seed}_n{lines_per_file}")
    qroot = os.path.join(out, "qcew")
    if not _cached(out):
        shutil.rmtree(out, ignore_errors=True)
        rng = random.Random(seed)
        for year in (2015, 2016):
            for qtr in (1, 2, 3, 4):
                gen_quarter_file(
                    os.path.join(qroot, str(year), f"eqin{year}{qtr}.txt"),
                    year, qtr, lines_per_file, rng,
                )
        empty = os.path.join(qroot, "2017", "eqin20171.txt")
        os.makedirs(os.path.dirname(empty), exist_ok=True)
        open(empty, "w").close()
        gen_dims(out)
        _gen_wage_facts(out, rng)
        _mark_done(out)
    files = [
        os.path.join(d, f) for d, _, fs in os.walk(qroot) for f in fs
    ]
    return {
        "dir": out,
        "glob": qroot + "/*/*",
        "reload_glob": qroot + "/2016/eqin20164.txt",
        "desc": os.path.join(out, "naics_desc.csv"),
        "invalid": os.path.join(out, "invalid_naics.csv"),
        "facts": {f: os.path.join(out, f"data_{s}.csv")
                  for f, s in (("yearly", "y"), ("fiscal", "fy"), ("quarterly", "q"))},
        "input_bytes": sum(os.path.getsize(f) for f in files),
        "input_lines": 8 * lines_per_file,
    }


def _gen_wage_facts(out: str, rng: random.Random) -> None:
    """data_y / data_fy / data_q wage facts: one row per (period, NAICS
    code) with six measures, ~5% blank."""
    from tests.qcew_fixtures import INVALID_NAICS, NAICS_POOL

    measures = ["taxable_wages", "total_wages", "average_salary",
                "social_security", "medicare", "contributions_due"]
    codes = [c[:4] for c in NAICS_POOL] + ["0"] + INVALID_NAICS
    specs = {
        "y": [{"year": y} for y in range(2010, 2018)],
        "fy": [{"f_year": y} for y in range(2010, 2018)],
        "q": [{"year": y, "qtr": q} for y in range(2014, 2017) for q in (1, 2, 3, 4)],
    }
    for suffix, keys in specs.items():
        rows = []
        for key in keys:
            for code in codes:
                row = dict(key, naics_code=code + "99")
                for m in measures:
                    row[m] = "" if rng.random() < 0.05 else round(rng.uniform(1e4, 1e7), 2)
                rows.append(row)
        with open(os.path.join(out, f"data_{suffix}.csv"), "w", newline="") as f:
            w = csv.DictWriter(f, fieldnames=list(rows[0]))
            w.writeheader()
            w.writerows(rows)
