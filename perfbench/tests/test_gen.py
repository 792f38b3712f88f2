"""Tests of the benchmark's input generator and trace arithmetic.

Run with ``python -m pytest perfbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import json
import os
import re
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import spans  # noqa: E402
from run import percentile_with_tail  # noqa: E402

FIXTURES_MD = os.path.join(HERE, "..", "..", "FIXTURES.md")


def fixture_schemas() -> dict[str, list[tuple[str, str]]]:
    """(column, parquet type) per table, parsed from FIXTURES.md."""
    out: dict[str, list[tuple[str, str]]] = {}
    table = None
    with open(FIXTURES_MD) as fh:
        for line in fh:
            if line.startswith("### "):
                table = line[4:].split()[0]
                out[table] = []
            elif line.startswith("## "):
                table = None
            elif table and line.startswith("| ") and not line.startswith(
                    ("| column", "| ---")):
                cells = [c.strip() for c in line.strip().strip("|").split("|")]
                ptype = cells[1].replace("*", "").replace("\\", "").split(" ")[0]
                out[table].append((cells[0], ptype))
    return out


def _arrow_type(t) -> str:
    return re.sub(r"<\w+: ", "<", str(t))


@pytest.fixture(scope="module")
def generated(tmp_path_factory):
    root = tmp_path_factory.mktemp("gen")
    dirs = {}
    for workload in gen.SIZES:
        for seed in (1, 1, 2):
            d = root / f"{workload}-{seed}-{len(dirs)}"
            gen.generate(workload, seed, str(d))
            dirs.setdefault((workload, seed), []).append(str(d))
    return dirs


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = fh.read()
    return out


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_same_seed_writes_identical_files(generated, workload):
    a, b = generated[(workload, 1)]
    assert _files(a) == _files(b)


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_other_seed_writes_different_data(generated, workload):
    a, b = _files(generated[(workload, 1)][0]), _files(generated[(workload, 2)][0])
    assert a.keys() == b.keys()
    randomised = ["events.parquet", "documents.parquet", "embeddings.parquet",
                  "lineitem.parquet", "orders.parquet", "cells_warmup.parquet"]
    randomised += [f"cells_{t}_b0.parquet" for t in gen.RULE_TABLES]
    for name in randomised:
        if name in a:
            assert a[name] != b[name], name


@pytest.mark.parametrize("workload", ["analytics", "curate"])
def test_schemas_equal_fixtures_md(generated, workload):
    expected = fixture_schemas()
    d = generated[(workload, 1)][0]
    tables = [f[:-len(".parquet")] for f in os.listdir(d) if f.endswith(".parquet")]
    assert sorted(tables) == sorted(expected)
    for table in tables:
        schema = pq.read_schema(os.path.join(d, f"{table}.parquet"))
        got = [(f.name, _arrow_type(f.type)) for f in schema]
        assert got == expected[table], table


def test_integrate_truth_matches_batches(generated):
    d = generated[("integrate", 1)][0]
    with open(os.path.join(d, "truth.json")) as fh:
        truth = json.load(fh)
    for batch in truth["batches"] + [truth["warmup"]]:
        with open(os.path.join(d, f"rules_{batch['rules']}.json")) as fh:
            rules = {src: canon for src, canon, _ in json.load(fh)}
        cells = pq.read_table(os.path.join(d, batch["file"])).to_pylist()
        assert len(cells) == batch["cells"]
        totals: dict[str, int] = {}
        for c in cells:
            if c["variant"] in rules:
                code = rules[c["variant"]]
                totals[code] = totals.get(code, 0) + c["value"]
        assert totals == batch["code_totals"]
        assert batch["unmapped"] == sum(c["variant"] not in rules for c in cells)
        assert 0.005 < batch["unmapped"] / batch["cells"] < 0.02


def test_planted_duplicates_are_what_truth_says(generated):
    d = generated[("curate", 1)][0]
    with open(os.path.join(d, "truth.json")) as fh:
        truth = json.load(fh)
    texts = pq.read_table(os.path.join(d, "documents.parquet"))["text"].to_pylist()
    for a, b in truth["exact_dup_pairs"]:
        assert a < b and texts[a] == texts[b]
    for a, b in truth["near_dup_pairs"]:
        wa, wb = texts[a].split(" "), texts[b].split(" ")
        assert a < b and len(wa) == len(wb)
        assert 1 <= sum(x != y for x, y in zip(wa, wb)) <= 3
    assert 0.05 < len(truth["near_dup_pairs"]) / truth["docs"] < 0.15


def test_self_time_subtracts_covered_child_time():
    sp = [{"id": 0, "parent": None, "t0": 0.0, "t1": 10.0},
          {"id": 1, "parent": 0, "t0": 1.0, "t1": 4.0},
          {"id": 2, "parent": 0, "t0": 3.0, "t1": 6.0},
          {"id": 3, "parent": 2, "t0": 3.5, "t1": 4.5}]
    st = spans.self_times(sp)
    assert st[0] == pytest.approx(5.0)
    assert st[2] == pytest.approx(2.0)
    assert st[1] == pytest.approx(3.0)


def test_tail_percentile_keeps_ten_samples_beyond_it():
    assert percentile_with_tail(list(range(10))) is None
    pct, value = percentile_with_tail([float(i) for i in range(100)])
    assert (pct, value) == (90.0, 89.0)
    assert sum(v > value for v in range(100)) == 10
