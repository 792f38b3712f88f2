"""The measured process: set up the program, warm it, run one workload's
closed loop (one client) and write what happened to ``result.json``.

``run.py`` starts this as a child process so that the set-up time
counts from process start, the process tree it samples holds only the
program (driver Python, JVM, Python workers), and the output checks
run outside it. Outputs are canonicalised for checking only after the
operation's clock has stopped.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import random
import shutil
import sys
import time
import traceback

def canonical_hash(pdf) -> tuple[int, str]:
    from integrator_spark.testing import canonical_strings

    rows = canonical_strings(pdf)
    return len(pdf), hashlib.sha256("\n".join(rows).encode()).hexdigest()


def _progress_json(progress) -> list[dict]:
    out = []
    for p in progress:
        if isinstance(p, dict):
            out.append(p)
        elif hasattr(p, "json"):
            out.append(json.loads(p.json))
        else:
            out.append(json.loads(str(p)))
    return out


class Workload:
    """One client's closed loop over operations. ``warmup`` runs once
    before the clock; ``cycle`` returns the next batch of whole
    operations and the loop keeps running cycles until the measured
    window has lasted at least ``--seconds``."""

    def __init__(self, spark, data: str, run_dir: str, seed: int, tracer):
        self.spark, self.data, self.run_dir = spark, data, run_dir
        self.rng = random.Random(seed)
        self.tracer = tracer
        with open(os.path.join(data, "truth.json")) as fh:
            self.truth = json.load(fh)
        self.n_ops = 0

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def timed(self, name: str, kind: str, fn) -> dict:
        """Run one operation; time it; record whether it raised."""
        self.n_ops += 1
        rec = {"name": name, "kind": kind, "ok": True}
        if self.tracer is not None:
            self.tracer.trace_id = f"{name}#{self.n_ops}"
        rec["t0"] = time.time()
        try:
            with self.span(f"op.{kind}"):
                rec["value"] = fn()
        except Exception as exc:  # an operation failure is a result, not a crash
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
            traceback.print_exc(file=sys.stderr)
        rec["t1"] = time.time()
        return rec


# ------------------------------------------------------------- integrate

SLICES_PER_BATCH = 1


class Integrate(Workload):
    """Census-cell batches through ``IntegrationPipeline.run``, each
    followed by slice lookups on the batch's published output."""

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.rules = {}
        for b in self.truth["batches"]:
            if b["rules"] not in self.rules:
                with open(os.path.join(self.data, f"rules_{b['rules']}.json")) as fh:
                    self.rules[b["rules"]] = [tuple(r) for r in json.load(fh)]
        self.by_table: dict[str, list[dict]] = {}
        for b in self.truth["batches"]:
            self.by_table.setdefault(b["rules"], []).append(b)
        self.n_cycles = 0

    def batch_op(self, batch: dict) -> list[dict]:
        from pyspark.sql import functions as F

        from integrator_spark.pipeline import IntegrationPipeline

        i = self.n_ops
        sink = os.path.join(self.run_dir, "sink", f"batch{i}")
        pipe = IntegrationPipeline(self.spark, rules=self.rules[batch["rules"]],
                                   src_col="variant", batch_id=f"b{i}",
                                   key_cols=["cell_id"])

        def run():
            raw = self.spark.read.parquet(os.path.join(self.data, batch["file"]))
            res = pipe.run(raw, sink)
            return {"n_published": res.n_published,
                    "validation": dict(res.validation)}

        recs = [self.timed(batch["rules"], "batch", run)]
        recs[0]["cells"] = batch["cells"]
        expect_validation = {"unmapped_values": batch["unmapped"],
                             "null_canonical": 0, "null_key_cell_id": 0}
        if recs[0]["ok"]:
            got = recs[0]["value"]
            recs[0]["check"] = (got["n_published"] == batch["cells"]
                                and got["validation"] == expect_validation)
            recs[0]["expected"] = {"n_published": batch["cells"],
                                   "validation": expect_validation}
            if self.tracer is not None:
                recs[0]["layout"] = _layout(sink, os.path.join(self.data,
                                                               batch["file"]))
        codes = sorted(batch["code_totals"])
        for code in self.rng.sample(codes, min(SLICES_PER_BATCH, len(codes))):
            def lookup(code=code):
                row = (self.spark.read.parquet(sink)
                       .filter(F.col("canonical") == code)
                       .agg(F.sum("value").alias("total")).collect())
                return row[0]["total"]
            rec = self.timed(code, "slice", lookup)
            if rec["ok"]:
                rec["check"] = rec["value"] == batch["code_totals"][code]
                rec["expected"] = batch["code_totals"][code]
            recs.append(rec)
        shutil.rmtree(sink, ignore_errors=True)
        return recs

    def _cycle_batches(self) -> list[dict]:
        """One batch per rule table, smallest table first; successive
        cycles take each table's next batch."""
        n = self.n_cycles
        self.n_cycles += 1
        tables = sorted(self.by_table, key=lambda t: len(self.rules[t]))
        return [self.by_table[t][n % len(self.by_table[t])] for t in tables]

    def warmup(self) -> None:
        """A small batch through the same plan pays the JVM's first-job,
        code-generation and JIT costs before the clock starts."""
        self.batch_op(self.truth["warmup"])

    def cycle(self) -> list[dict]:
        return [r for b in self._cycle_batches() for r in self.batch_op(b)]


def _layout(sink: str, batch_file: str) -> dict:
    files, size = 0, 0
    for root, _dirs, names in os.walk(sink):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return {"files": files, "sink_bytes": size,
            "batch_bytes": os.path.getsize(batch_file)}


# ------------------------------------------------- registered-query loops

class QueryLoop(Workload):
    """Registered queries run to the driver (``toPandas``), each output
    fingerprinted for the oracle check."""

    QUERIES: tuple[str, ...] = ()

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        from integrator_spark.registry import all_specs

        self.specs = all_specs()
        self.last_output: dict = {}

    def query_op(self, name: str) -> dict:
        spec = self.specs[name]

        def run():
            with self.span("queries.build"):
                df = spec.fn(self.spark, self.data)
            with self.span("queries.exec"):
                return df.toPandas()

        rec = self.timed(name, "query", run)
        if rec["ok"]:
            pdf = rec.pop("value")
            rec["rows"], rec["hash"] = canonical_hash(pdf)
            self.last_output[name] = pdf
            self.after_query(name, rec)
        return rec

    def after_query(self, name: str, rec: dict) -> None:
        pass

    def round(self) -> list[str]:
        names = list(self.QUERIES)
        self.rng.shuffle(names)
        return names


class Analytics(QueryLoop):
    """Interactive analysis over the star schema and the event log; each
    query runs once cold before the clock starts."""

    QUERIES = ("q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
               "rollup_revenue", "window_topn", "agg_distinct",
               "etl_observations", "etl_assertions", "events_tumbling",
               "events_json")

    def warmup(self) -> None:
        for name in self.round():
            self.query_op(name)

    def cycle(self) -> list[dict]:
        return [self.query_op(n) for n in self.round()]


#: Jaccard estimate at which a MinHash candidate pair counts as kept.
KEEP_JACCARD = 0.5
#: Registered recall@1 floor of vec_ann_ivfpq against exact kNN.
ANN_RECALL_FLOOR = 0.9


class Curate(QueryLoop):
    """One pass of the LLM-data funnel per cycle: near-duplicate
    detection, pretraining-corpus assembly, exact and IVF-PQ nearest
    neighbours, and a streaming dedup drain. Each step of a pass is its
    first use in the process, as in a batch curation job, so the order
    is fixed: a seeded order moved the first-use costs from step to step
    and spread the median step latency by 23 % across seeds."""

    QUERIES = ("pipeline_pretrain", "dedup_minhash_det", "vec_knn",
               "vec_ann_ivfpq", "stream_dedup")

    def round(self) -> list[str]:
        return list(self.QUERIES)

    def warmup(self) -> None:
        """One trivial job, so that the pass does not carry the fresh
        JVM's first-job cost (≈ 5 s of JIT, the noisiest part of it)."""
        self.spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()

    def after_query(self, name: str, rec: dict) -> None:
        pdf = self.last_output[name]
        if name == "dedup_minhash_det":
            planted = {tuple(p) for p in self.truth["near_dup_pairs"]
                       + self.truth["exact_dup_pairs"]}
            found = set(zip(pdf["d1"].tolist(), pdf["d2"].tolist()))
            kept = int((pdf["est_jaccard"] >= KEEP_JACCARD).sum())
            rec["dedup"] = {"candidates": len(pdf), "kept": kept,
                            "planted": len(planted),
                            "planted_found": len(planted & found)}
        elif name.startswith("stream_"):
            from integrator_spark.streaming import jobs

            rec["progress"] = _progress_json(jobs.LAST_RUN_PROGRESS)

    def cycle(self) -> list[dict]:
        self.last_output = {}
        recs = [self.query_op(n) for n in self.round()]
        knn, ann = self.last_output.get("vec_knn"), self.last_output.get("vec_ann_ivfpq")
        for rec in recs:
            if rec["name"] != "vec_ann_ivfpq" or not rec["ok"]:
                continue
            # Rows-only query: check coverage and recall@1 against the
            # same pass's exact kNN.
            if knn is None:
                rec["check"], rec["why"] = False, "no exact kNN in this pass"
                continue
            exact = dict(zip(knn["vec_id"].tolist(), knn["neighbor_id"].tolist()))
            approx = ann[ann["rank"] == 1] if "rank" in ann else ann
            hits = sum(exact.get(q) == n for q, n in
                       zip(approx["query_id"].tolist(),
                           approx["neighbor_id"].tolist()))
            recall = hits / max(len(exact), 1)
            rec["recall_at_1"] = recall
            rec["check"] = (len(approx) == self.truth["vectors"]
                            and recall >= ANN_RECALL_FLOOR)
            rec["why"] = f"rows {len(approx)}, recall@1 {recall:.3f}"
        return recs


WORKLOADS = {"integrate": Integrate, "analytics": Analytics, "curate": Curate}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawned-at", type=float, required=True)
    a = ap.parse_args()

    sys.path.insert(0, os.getcwd())
    tracer = None
    if a.trace:
        from spans import Tracer
        tracer = Tracer()
    setup: dict[str, float] = {}
    t = time.time()
    from integrator_spark.registry import all_specs
    from integrator_spark.session import build_session
    setup["import_s"] = time.time() - t

    def timed_setup(key, span, fn):
        t0 = time.time()
        with tracer.span(span) if tracer else contextlib.nullcontext():
            out = fn()
        setup[key] = time.time() - t0
        return out

    spark = timed_setup("build_s", "session.build",
                        lambda: build_session(app_name="perfbench", cpus=4))
    timed_setup("registry_s", "session.registry", all_specs)
    setup["setup_s"] = time.time() - a.spawned_at
    if tracer is not None:
        tracer.sc = spark.sparkContext
        tracer.install()

    t = time.time()
    workload = WORKLOADS[a.workload](spark, a.data, a.run_dir, a.seed, tracer)
    workload.warmup()
    warmup_s = time.time() - t

    ops: list[dict] = []
    cycles: list[tuple[float, float]] = []
    w0 = time.time()
    while True:
        c0 = time.time()
        ops.extend(workload.cycle())
        cycles.append((c0, time.time()))
        if time.time() - w0 >= a.seconds:
            break
    w1 = time.time()
    spark.stop()
    result = {"setup": setup, "warmup_s": warmup_s, "window": [w0, w1],
              "cycles": cycles, "ops": ops,
              "spans": tracer.spans if tracer else []}
    with open(os.path.join(a.run_dir, "result.json"), "w") as fh:
        json.dump(result, fh, default=str)


if __name__ == "__main__":
    main()
