"""Seeded input generator for the benchmark workloads.

Every table is a pure function of ``(workload, seed)``: the same seed
writes byte-identical Parquet files, another seed writes different
ones. Schemas and value domains follow FIXTURES.md (``events.ts`` as
``timestamp[us]``, embeddings as dim-64 ``list<float>``), so the
program reads generated inputs exactly as it reads the fixtures.

Besides the tables, each workload gets a ``truth.json`` with what was
planted: unmapped-cell counts and per-code totals for the integration
batches, near-duplicate and exact-duplicate document pairs, and
near-duplicate vector pairs. The benchmark checks outputs against it.

Run ``python3 perfbench/gen.py --workload curate --seed 1 --out DIR``
to write one workload's inputs by hand.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Input sizes per workload. The star schema is scaled by order count
#: (customer = orders/10, supplier = orders/150, part = orders*2/15,
#: lineitem ≈ 4 × orders, as in the fixtures).
SIZES = {
    "integrate": {"cells": 60_000, "batches_per_table": 2,
                  "warmup_cells": 5_000},
    "analytics": {"orders": 60_000, "events": 60_000},
    "curate": {"docs": 3_000, "vectors": 800, "events": 20_000},
}

#: Rule tables of the integrate workload: (raw variants, canonical codes).
#: Publish writes one partition per code, so the three sizes span the
#: partition cardinalities the publish step's cost depends on. (A
#: 5,500 → 1,100 table took 27.6 s per batch plus 5 s per slice on a
#: 4-core sandbox, more than one run's time budget allows.)
RULE_TABLES = {"r12": (40, 12), "r120": (600, 120), "r400": (2_000, 400)}
UNMAPPED_SHARE = 0.01
ZIPF_S = 1.1

WORDS = ("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
         "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
         "window", "order", "data", "column", "join", "small", "big",
         "customer", "query", "group", "stream", "filter", "node", "index")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DIM = 64
N_LABELS = 10

_TS_US = pa.timestamp("us")


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _days_us(start: np.datetime64, n_days: int, rng: np.random.Generator,
             n: int) -> np.ndarray:
    days = rng.integers(0, n_days, n).astype("timedelta64[D]")
    return (start + days).astype("datetime64[us]")


# --------------------------------------------------------------- star schema

def star_schema(rng: np.random.Generator, n_orders: int) -> dict[str, pa.Table]:
    n_cust = max(n_orders // 10, 10)
    n_supp = max(n_orders // 150, 10)
    n_part = max(n_orders * 2 // 15, 20)
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                         "MACHINERY"])
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adjectives = np.array(["blue", "hot", "small", "old", "red", "new",
                           "cold", "large"])
    nouns = np.array(["bolt", "gear", "anvil", "ring", "widget", "rod",
                      "plate", "gizmo"])
    p_types = np.array(["PROMO", "ECONOMY", "STANDARD", "LARGE", "SMALL",
                        "MEDIUM"])
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adjectives[rng.integers(0, 8, n_part)],
                                          " "),
                              nouns[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": p_types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    o_date = _days_us(np.datetime64("1995-01-01"), 2404, rng, n_orders)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": pa.array(o_date, _TS_US),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_orders)]})
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_orders), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_linenumber = np.arange(n_li) - starts + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = (o_date[l_order]
            + rng.integers(1, 122, n_li).astype("timedelta64[D]"))
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), _TS_US)})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


# ----------------------------------------------------------------- event log

def event_log(rng: np.random.Generator, n_events: int,
              n_users: int = 150) -> tuple[pa.Table, dict]:
    """≈1 % of events are re-delivered (same row twice) and ≈2 % arrive
    late: they sit at the end of the file with event times up to six
    hours before the file's last on-time event."""
    month_us = 30 * 24 * 3600 * 10**6
    base = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, month_us, n_events))
    n_late = n_events // 50
    late_idx = np.sort(rng.choice(n_events, n_late, replace=False))
    on_time = np.setdiff1d(np.arange(n_events), late_idx)
    order = np.concatenate([on_time, late_idx])
    late_shift = rng.integers(0, 6 * 3600 * 10**6, n_late)
    offs = offs.copy()
    offs[late_idx] = np.maximum(offs[on_time[-1]] - late_shift, 0)
    n_dup = n_events // 100
    dup_rows = np.sort(rng.choice(n_events, n_dup, replace=False))
    order = np.concatenate([order, order[dup_rows]])
    event_id = np.arange(n_events)
    ts = (base + offs.astype("timedelta64[us]"))
    user = rng.integers(0, n_users, n_events)
    etype = np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)]
    value = np.round(rng.uniform(0.01, 490.02, n_events), 2)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_events)
                                    .astype(str)), "}")
    table = pa.table({
        "event_id": pa.array(event_id[order], pa.int64()),
        "ts": pa.array(ts[order], _TS_US),
        "user_id": pa.array(user[order], pa.int64()),
        "event_type": etype[order],
        "value": value[order],
        "props": props[order]})
    return table, {"events": len(order), "late_events": n_late,
                   "duplicate_events": n_dup}


# -------------------------------------------------------------------- corpus

def documents(rng: np.random.Generator, n_docs: int) -> tuple[pa.Table, dict]:
    """≈10 % planted near-duplicates (a copy of an earlier document with
    1-3 word substitutions) and ≈2 % exact duplicates."""
    vocab = np.array(WORDS)
    texts: list[str] = []
    near: list[list[int]] = []
    exact: list[list[int]] = []
    kinds = rng.random(n_docs)
    for i in range(n_docs):
        if i > 0 and kinds[i] < 0.10:
            src = int(rng.integers(0, i))
            words = texts[src].split(" ")
            for pos in rng.choice(len(words), int(rng.integers(1, 4)),
                                  replace=False):
                words[pos] = vocab[rng.integers(0, len(vocab))]
            text = " ".join(words)
            (exact if text == texts[src] else near).append([src, i])
        elif i > 0 and kinds[i] < 0.12:
            src = int(rng.integers(0, i))
            text = texts[src]
            exact.append([src, i])
        else:
            text = " ".join(vocab[rng.integers(0, len(vocab),
                                               int(rng.integers(10, 100)))])
        texts.append(text)
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    return table, {"docs": n_docs, "near_dup_pairs": near,
                   "exact_dup_pairs": exact}


def embeddings(rng: np.random.Generator, n_vecs: int) -> tuple[pa.Table, dict]:
    """Vectors around 10 label centres; ≈5 % are planted near-duplicates
    (a copy of an earlier vector plus small noise)."""
    centres = rng.normal(0.0, 0.12, (N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, n_vecs)
    mat = centres[labels] + rng.normal(0.0, 0.1, (n_vecs, DIM))
    near: list[list[int]] = []
    for i in np.flatnonzero(rng.random(n_vecs) < 0.05):
        if i == 0:
            continue
        src = int(rng.integers(0, i))
        mat[i] = mat[src] + rng.normal(0.0, 0.005, DIM)
        labels[i] = labels[src]
        near.append([src, int(i)])
    mat = mat.astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n_vecs + 1) * DIM, DIM), pa.int32()),
        pa.array(mat.ravel(), pa.float32()))
    table = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": emb,
        "label": pa.array(labels, pa.int32())})
    return table, {"vectors": n_vecs, "near_dup_vec_pairs": near}


# -------------------------------------------------------- integration batches

def rule_table(rng: np.random.Generator, name: str, n_variants: int,
               n_codes: int) -> list[tuple[str, str, str]]:
    codes = rng.permutation(n_variants) % n_codes
    return [(f"{name}_v{i:05d}", f"{name}_c{int(c):04d}", f"{name}_rule{i}")
            for i, c in enumerate(codes)]


def census_batch(rng: np.random.Generator, rules: list[tuple[str, str, str]],
                 n_cells: int) -> tuple[pa.Table, dict]:
    """Cells with Zipf-skewed raw variant codes; UNMAPPED_SHARE of them
    carry a variant no rule maps."""
    n_var = len(rules)
    p = 1.0 / np.arange(1, n_var + 1) ** ZIPF_S
    rank_to_var = rng.permutation(n_var)
    var_idx = rank_to_var[rng.choice(n_var, n_cells, p=p / p.sum())]
    variants = np.array([r[0] for r in rules])[var_idx].astype(object)
    unmapped = rng.random(n_cells) < UNMAPPED_SHARE
    variants[unmapped] = np.char.add(
        "unknown_", rng.integers(0, 50, int(unmapped.sum())).astype(str))
    value = rng.integers(1, 1000, n_cells)
    table = pa.table({
        "cell_id": pa.array(np.arange(n_cells), pa.int64()),
        "area": pa.array(rng.integers(0, 400, n_cells), pa.int32()),
        "year": pa.array(rng.integers(2001, 2022, n_cells), pa.int32()),
        "variant": pa.array(variants, pa.string()),
        "value": pa.array(value, pa.int64())})
    canon = np.array([r[1] for r in rules])[var_idx]
    totals: dict[str, int] = {}
    mapped = ~unmapped
    for code, v in zip(canon[mapped], value[mapped]):
        totals[code] = totals.get(code, 0) + int(v)
    return table, {"cells": n_cells, "unmapped": int(unmapped.sum()),
                   "code_totals": totals}


# ----------------------------------------------------------------- workloads

def _rng(workload: str, seed: int, part: str) -> np.random.Generator:
    digest = hashlib.sha256(f"{workload}/{part}".encode()).digest()
    return np.random.default_rng([seed, int.from_bytes(digest[:8], "little")])


def generate(workload: str, seed: int, out: str) -> dict:
    """Write one workload's tables and ``truth.json`` into ``out``."""
    size = SIZES[workload]
    os.makedirs(out, exist_ok=True)
    truth: dict = {"workload": workload, "seed": seed}
    if workload == "integrate":
        truth["batches"] = []
        rules = {}
        for name, (n_var, n_codes) in RULE_TABLES.items():
            rules[name] = rule_table(_rng(workload, seed, name), name, n_var,
                                     n_codes)
            with open(os.path.join(out, f"rules_{name}.json"), "w") as fh:
                json.dump(rules[name], fh)
            for b in range(size["batches_per_table"]):
                table, t = census_batch(_rng(workload, seed, f"{name}/{b}"),
                                        rules[name], size["cells"])
                path = f"cells_{name}_b{b}.parquet"
                _write(table, os.path.join(out, path))
                truth["batches"].append({"rules": name, "file": path, **t})
        # A small batch through the same plan, run before the clock
        # starts so that code generation and JIT are not measured.
        name = min(RULE_TABLES, key=lambda n: RULE_TABLES[n][1])
        table, t = census_batch(_rng(workload, seed, "warmup"), rules[name],
                                size["warmup_cells"])
        _write(table, os.path.join(out, "cells_warmup.parquet"))
        truth["warmup"] = {"rules": name, "file": "cells_warmup.parquet", **t}
    else:
        if workload == "analytics":
            tables = star_schema(_rng(workload, seed, "star"), size["orders"])
        else:
            tables = star_schema(_rng(workload, seed, "star"), 300)
            docs, t_docs = documents(_rng(workload, seed, "docs"),
                                     size["docs"])
            vecs, t_vecs = embeddings(_rng(workload, seed, "vecs"),
                                      size["vectors"])
            tables.update(documents=docs, embeddings=vecs)
            truth.update(t_docs, **t_vecs)
        events, t_ev = event_log(_rng(workload, seed, "events"),
                                 size["events"])
        tables["events"] = events
        truth.update(t_ev)
        if "documents" not in tables:
            docs, _ = documents(_rng(workload, seed, "docs"), 200)
            vecs, _ = embeddings(_rng(workload, seed, "vecs"), 200)
            tables.update(documents=docs, embeddings=vecs)
        for name, table in tables.items():
            _write(table, os.path.join(out, f"{name}.parquet"))
        truth["rows"] = {n: t.num_rows for n, t in tables.items()}
    with open(os.path.join(out, "truth.json"), "w") as fh:
        json.dump(truth, fh)
    return truth


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
