"""The repo benchmark: one command per workload.

    python3 perfbench/run.py --workload integrate --seed 1 --seconds 10 --trace 0

Run from the repository root. It generates the workload's inputs from
the seed (outside any timed region), starts the program in a child
process on ``local[4]`` with one closed-loop client, checks every
output, and prints the metrics. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics of BENCHMARK.json with ``--trace 0``, its
per-layer metrics with ``--trace 1``. The lines before it are the
human-readable report.

Everything a run writes stays inside the checkout: inputs under
``perfbench/_data``, run state under ``perfbench/_runs``, and the
program's own derived files under ``_derived`` (all git-ignored).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans  # noqa: E402
from procmon import TreeSampler, session_pids  # noqa: E402

CORES = 4
#: Driver heap of the measured program. The program's default (8g) lets
#: the JVM heap grow unchecked on a shared 15 GB machine.
DRIVER_MEM = "3g"
#: Time the measured process may take, counted from the start of the
#: run; stopping it, the checks and the report must fit in what is left
#: of a 180 s run.
RUN_LIMIT_S = 140.0


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def percentile_with_tail(values: list[float], min_beyond: int = 10):
    """Highest percentile that has at least ``min_beyond`` samples
    beyond it, as (percentile, value), or None if too few samples."""
    n = len(values)
    if n <= min_beyond:
        return None
    s = sorted(values)
    idx = n - min_beyond - 1
    return round(100.0 * (idx + 1) / n, 1), s[idx]


# ------------------------------------------------------------------ set-up

def prepare_inputs(workload: str, seed: int) -> str:
    data = os.path.join(HERE, "_data", f"{workload}-s{seed}")
    if not os.path.isfile(os.path.join(data, "truth.json")):
        shutil.rmtree(data, ignore_errors=True)
        gen.generate(workload, seed, data)
    return data


def spark_conf_dir(run_dir: str, trace: bool) -> str:
    """A Spark conf dir owned by the benchmark: no console progress bar,
    and for the traced run an uncompressed event log."""
    conf = os.path.join(run_dir, "conf")
    os.makedirs(conf)
    lines = ["spark.ui.showConsoleProgress false"]
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        lines += ["spark.eventLog.enabled true",
                  f"spark.eventLog.dir file://{run_dir}/eventlog",
                  "spark.eventLog.compress false"]
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return conf


def run_child(args, data: str, run_dir: str, budget_s: float):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(os.path.join(tmp, "spark"))
    # Temp files of Python, Spark and both JVMs (spark-submit's launcher
    # and the driver) stay in the run dir; no hsperfdata under /tmp.
    env = dict(os.environ,
               TMPDIR=tmp,
               JDK_JAVA_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
               SPARK_LOCAL_DIRS=os.path.join(tmp, "spark"),
               SPARK_CONF_DIR=spark_conf_dir(run_dir, bool(args.trace)),
               SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
               PYTHONUNBUFFERED="1")
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--data", data, "--run-dir", run_dir,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--spawned-at", repr(time.time())]
    with open(os.path.join(run_dir, "worker.log"), "w") as log:
        child = subprocess.Popen(cmd, env=env, stdout=log, stderr=log,
                                 stdin=subprocess.DEVNULL,
                                 start_new_session=True)
        sampler = TreeSampler(child.pid).start()
        try:
            code = child.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_session(child.pid)
            sampler.stop()
    return code, sampler


def stop_session(sid: int) -> None:
    """Stop every process of the child's session and wait until all
    have ended: first let them exit on their own (the JVM follows its
    driver), then SIGTERM, then SIGKILL."""
    for sig, wait_s in ((None, 10.0), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        deadline = time.time() + wait_s
        while time.time() < deadline:
            pids = session_pids(sid)
            if not pids:
                return
            for pid in pids if sig else ():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)
    fail(f"processes {session_pids(sid)} did not stop", 3)


# ------------------------------------------------------------------ checks

def oracle_fingerprints(data: str, names: set[str]) -> dict:
    """DuckDB oracle output of each query over the generated files,
    canonicalised like the program's outputs (cached per input dir)."""
    import duckdb

    from integrator_spark.registry import all_specs
    from worker import canonical_hash

    cache_path = os.path.join(data, "oracle.json")
    cache = {}
    if os.path.isfile(cache_path):
        with open(cache_path) as fh:
            cache = json.load(fh)
    missing = sorted(n for n in names if n not in cache)
    if missing:
        specs = all_specs()
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 4")
            for f in sorted(os.listdir(data)):
                if f.endswith(".parquet") and not f.startswith("cells_"):
                    con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                                f"read_parquet('{os.path.join(data, f)}')")
            for name in missing:
                cache[name] = list(canonical_hash(
                    con.execute(specs[name].oracle).fetchdf()))
        finally:
            con.close()
        with open(cache_path, "w") as fh:
            json.dump(cache, fh)
    return cache


def check_ops(ops: list[dict], data: str) -> None:
    """Set ``passed`` on every op: it did not raise and its output
    matched its oracle or the planted truth."""
    oracle_names = {op["name"] for op in ops
                    if op["kind"] == "query" and "check" not in op and op["ok"]}
    oracle = oracle_fingerprints(data, oracle_names) if oracle_names else {}
    for op in ops:
        if not op["ok"]:
            op["passed"], op["why"] = False, op.get("error", "raised")
        elif "check" in op:
            op["passed"] = bool(op["check"])
            if not op["passed"] and "why" not in op:
                op["why"] = (f"got {op.get('value')!r}, "
                             f"expected {op.get('expected')!r}")
        else:
            rows, digest = oracle[op["name"]]
            op["passed"] = op["hash"] == digest and op["rows"] == rows
            if not op["passed"]:
                op["why"] = (f"output differs from the DuckDB oracle "
                             f"({op['rows']} rows vs {rows})")


# ----------------------------------------------------------------- metrics

def _p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def end_to_end(workload: str, result: dict, sampler, truth: dict) -> tuple[dict, list]:
    """(gated metrics, report lines) of one run. A cycle is one batch per
    rule table with its slice reads (integrate), one pass of the funnel
    (curate) or one round of every query (analytics); ``attempted``
    counts every checked output."""
    ops = result["ops"]
    w0, w1 = result["window"]
    wall = w1 - w0
    if workload == "integrate":
        items = sum(op["cells"] for op in ops if op["kind"] == "batch")
    elif workload == "curate":
        items = len(result["cycles"]) * (truth["docs"] + truth["vectors"])
    else:
        items = sum(op["kind"] == "query" for op in ops)
    kind = "batch" if workload == "integrate" else "query"
    lat = [op["t1"] - op["t0"] for op in ops if op["kind"] == kind]
    failed = sum(not op["passed"] for op in ops)
    gated = {
        "setup_s": result["setup"]["setup_s"],
        "cycle_p50_s": _p50([c1 - c0 for c0, c1 in result["cycles"]]),
        "items_per_s": items / wall,
        "cycle_cpu_s": sampler.cpu_util(w0, w1, CORES) * CORES * wall
        / len(result["cycles"]),
    }
    split = ", ".join(f"{k} {v / 2**20:.0f}"
                      for k, v in sampler.peak_by_kind.items())
    lines = [("setup_s", gated["setup_s"], "s"),
             ("peak_rss_mb", sampler.peak_rss_mb(), f"MB ({split})"),
             ("failed_frac", failed / len(ops), "ratio")]
    if workload == "integrate":
        slices = [op["t1"] - op["t0"] for op in ops if op["kind"] == "slice"]
        lines += [("cells_per_s", items / wall, "cells/s"),
                  ("batch_p50_s", _p50(lat), "s"),
                  ("slice_p50_s", _p50(slices), "s")]
    elif workload == "analytics":
        lines += [("queries_per_s", len(lat) / wall, "1/s"),
                  ("query_p50_s", _p50(lat), "s")]
        tail = percentile_with_tail(lat)
        lines.append(("query_tail_s", tail[1] if tail else float("nan"),
                      f"s (p{tail[0]}, n={len(lat)})" if tail
                      else f"s (n={len(lat)}: fewer than 11 samples)"))
    else:
        steps = [op for op in ops if op["kind"] == "query"]
        drain = [op["t1"] - op["t0"] for op in steps
                 if op["name"].startswith("stream_")]
        lines += [("events_per_s", len(drain) * truth["events"] / sum(drain)
                   if drain else 0.0, "events/s"),
                  ("drain_p50_s", _p50(drain), "s"),
                  ("step_p50_s", _p50(lat), "s")]
    lines += [("cycle_p50_s", gated["cycle_p50_s"], "s"),
              ("items_per_s", gated["items_per_s"], "items/s"),
              ("cycle_cpu_s", gated["cycle_cpu_s"], "s (process-tree CPU per cycle)")]
    return gated, lines


def per_layer(result: dict, sampler, run_dir: str) -> tuple[dict, list]:
    """Per-layer metrics of a traced run, and the self-time table."""
    sp = result["spans"]
    w0, w1 = result["window"]
    inside = [s for s in sp if w0 <= s["t0"] <= w1]
    selft = spans.self_times(sp)
    logs = os.listdir(os.path.join(run_dir, "eventlog"))
    log = spans.read_event_log(os.path.join(run_dir, "eventlog", logs[0]))
    att = spans.attribute(sp, log, (w0, w1))
    tot = att["total"]

    def dur(name: str) -> float:
        return sum(s["t1"] - s["t0"] for s in sp if s["name"] == name
                   and (name.startswith("session.") or w0 <= s["t0"] <= w1))

    def calls(name: str) -> int:
        return sum(1 for s in inside if s["name"] == name)

    ops = result["ops"]
    batches = [op for op in ops if op["kind"] == "batch"]
    runs = calls("pipeline.run")
    layout = [op["layout"] for op in batches if "layout" in op]
    batch_bytes = sum(x["batch_bytes"] for x in layout)
    m = {
        "session.build_s": dur("session.build"),
        "session.registry_s": dur("session.registry"),
        "io.load_table.s": dur("io.load_table"),
        "io.load_table.calls": calls("io.load_table"),
        "io.register_views.s": dur("io.register_views"),
        "io.table_rows.s": dur("io.table_rows"),
        "queries.build_s": dur("queries.build"),
        "queries.exec_s": dur("queries.exec"),
        "queries.eager_jobs": spans.subtree_sum(sp, att, "queries.build", "jobs"),
        "pipeline.harmonize_s": dur("pipeline.harmonize"),
        "pipeline.validate_s": dur("pipeline.validate"),
        "pipeline.publish_s": dur("pipeline.publish"),
        "pipeline.run_self_s": sum(selft[s["id"]] for s in inside
                                   if s["name"] == "pipeline.run"),
        "pipeline.jobs_per_batch":
            spans.subtree_sum(sp, att, "pipeline.run", "jobs") / runs if runs else 0.0,
        "pipeline.input_reads":
            spans.subtree_sum(sp, att, "pipeline.run", "input_b") / batch_bytes
            if batch_bytes else 0.0,
        "pipeline.files_per_batch":
            statistics.mean(x["files"] for x in layout) if layout else 0.0,
        "pipeline.write_amp":
            sum(x["sink_bytes"] for x in layout) / batch_bytes if batch_bytes else 0.0,
        "harmonize.rules_frame_s": dur("harmonize.rules_frame"),
        "harmonize.apply_rules_s": dur("harmonize.apply_rules"),
        "harmonize.unmapped_share":
            sum(op["value"]["validation"]["unmapped_values"] for op in batches
                if op["ok"]) / max(sum(op["cells"] for op in batches), 1),
    }
    for name in ("minhash_signatures", "minhash_bands", "minhash_det_pairs",
                 "connected_components", "exact_dedup_keep_first"):
        m[f"dedup.{name}_s"] = dur(f"dedup.{name}")
    dd = [op["dedup"] for op in ops if "dedup" in op]
    cand = sum(d["candidates"] for d in dd)
    m.update({
        "dedup.candidates": cand,
        "dedup.pairs_kept": sum(d["kept"] for d in dd),
        "dedup.precision": sum(d["kept"] for d in dd) / cand if cand else 0.0,
        "dedup.planted_recall":
            sum(d["planted_found"] for d in dd) / max(sum(d["planted"] for d in dd), 1),
    })
    for name in ("knn_exact", "knn_blocked", "train_centroids", "ivfpq_train",
                 "ivfpq_encode", "ivfpq_search"):
        m[f"ann.{name}_s"] = dur(f"ann.{name}")
    rec = [op["recall_at_1"] for op in ops if "recall_at_1" in op]
    m["ann.recall_at_1"] = statistics.mean(rec) if rec else 0.0
    m.update(streaming_metrics(ops))
    m.update({
        "spark.jobs": tot["jobs"], "spark.stages": tot["stages"],
        "spark.tasks": tot["tasks"], "spark.failed_tasks": tot["failed_tasks"],
        "spark.run_s": tot["run_s"], "spark.cpu_s": tot["cpu_s"],
        "spark.gc_s": tot["gc_s"], "spark.sched_wait_s": tot["sched_wait_s"],
        "spark.input_mb": tot["input_b"] / 2**20,
        "spark.output_mb": tot["output_b"] / 2**20,
        "spark.shuffle_read_mb": tot["shuffle_read_b"] / 2**20,
        "spark.shuffle_write_mb": tot["shuffle_write_b"] / 2**20,
        "spark.spill_mb": tot["spill_b"] / 2**20,
        "spark.task_skew": att["task_skew"],
        "spark.unattributed_job_share": att["unattributed_share"],
        "python.rows": tot["py_rows"],
        "python.sent_mb": tot["py_sent"] / 2**20,
        "python.recv_mb": tot["py_recv"] / 2**20,
        "proc.cpu_util": sampler.cpu_util(w0, w1, CORES),
        "proc.peak_rss_mb": sampler.peak_rss_mb(),
        "trace.spans": len(inside),
    })
    return m, self_time_table(inside, selft, att)


#: Progress ``durationMs`` keys → per-layer metric names.
_STREAM_DURATIONS = {"triggerExecution": "trigger_ms", "addBatch": "addBatch_ms",
                     "queryPlanning": "queryPlanning_ms",
                     "walCommit": "walCommit_ms",
                     "commitOffsets": "commitOffsets_ms",
                     "latestOffset": "latestOffset_ms"}


def streaming_metrics(ops: list[dict]) -> dict:
    """Summed over every drain's micro-batch progress reports."""
    m = {"streaming.batches": 0, "streaming.input_rows": 0}
    m.update({f"streaming.{v}": 0 for v in _STREAM_DURATIONS.values()})
    m.update({"streaming.state_rows": 0, "streaming.state_mem_mb": 0.0,
              "streaming.state_commit_ms": 0, "streaming.watermark_dropped": 0})
    for op in ops:
        for p in op.get("progress", []):
            m["streaming.batches"] += 1
            m["streaming.input_rows"] += p.get("numInputRows", 0)
            for key, name in _STREAM_DURATIONS.items():
                m[f"streaming.{name}"] += p.get("durationMs", {}).get(key, 0)
            for s in p.get("stateOperators", []):
                m["streaming.state_rows"] += s.get("numRowsTotal", 0)
                m["streaming.state_mem_mb"] += s.get("memoryUsedBytes", 0) / 2**20
                m["streaming.state_commit_ms"] += s.get("commitTimeMs", 0)
                m["streaming.watermark_dropped"] += s.get(
                    "numRowsDroppedByWatermark", 0)
    return m


def self_time_table(inside: list[dict], selft: dict, att: dict) -> list:
    rows = {}
    for s in inside:
        r = rows.setdefault(s["name"], [0, 0.0, 0.0])
        r[0] += 1
        r[1] += s["t1"] - s["t0"]
        r[2] += selft[s["id"]]
    lines = [f"{'span':32s} {'calls':>6s} {'total_s':>9s} {'self_s':>9s} "
             f"{'jobs':>5s} {'tasks':>6s} {'run_s':>8s} {'in_mb':>8s} "
             f"{'py_mb':>7s}"]
    names = sorted(set(rows) | set(att["per_name"]),
                   key=lambda n: -rows.get(n, [0, 0.0, 0.0])[2])
    for name in names:
        c, t, st = rows.get(name, [0, 0.0, 0.0])
        j = att["per_name"].get(name, {})
        lines.append(
            f"{name:32s} {c:6d} {t:9.3f} {st:9.3f} {j.get('jobs', 0):5d} "
            f"{j.get('tasks', 0):6d} {j.get('run_s', 0.0):8.2f} "
            f"{j.get('input_b', 0) / 2**20:8.2f} "
            f"{(j.get('py_sent', 0) + j.get('py_recv', 0)) / 2**20:7.2f}")
    return lines


# -------------------------------------------------------------------- main

def main() -> None:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_begin = time.time()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "integrator_spark", "__init__.py")):
        fail("run from the repository root: integrator_spark/ not found here")
    if not os.path.isfile(os.path.join(root, "BENCHMARK.json")):
        fail("BENCHMARK.json not found in the current directory")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if args.workload not in gen.SIZES:
        fail(f"unknown workload {args.workload!r}; known: {sorted(gen.SIZES)}")
    sys.path.insert(1, root)

    data = prepare_inputs(args.workload, args.seed)
    with open(os.path.join(data, "truth.json")) as fh:
        truth = json.load(fh)
    run_dir = os.path.join(HERE, "_runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t_child = time.time()
    code, sampler = run_child(args, data, run_dir,
                              RUN_LIMIT_S - (time.time() - t_begin))
    t_check = time.time()
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.isfile(result_path):
        with open(os.path.join(run_dir, "worker.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"the measured process ended with {code!r} and no result", 1)
    with open(result_path) as fh:
        result = json.load(fh)
    ops = result["ops"]
    check_ops(ops, data)
    failed = [op for op in ops if not op["passed"]]
    phases = (f"inputs {t_child - t_begin:.1f} s, program {t_check - t_child:.1f} s, "
              f"checks {time.time() - t_check:.1f} s")

    gated, lines = end_to_end(args.workload, result, sampler, truth)
    print(f"# workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"window {result['window'][1] - result['window'][0]:.1f} s  "
          f"ops {len(ops)}  warm-up {result['warmup_s']:.1f} s")
    print(f"# {phases}")
    for name, value, unit in lines:
        print(f"{name:16s} {value:14.4f} {unit}")
    for op in failed:
        print(f"FAILED {op['kind']} {op['name']}: {op.get('why')}")
    last_untraced = os.path.join(HERE, "_runs",
                                 f"last-{args.workload}-s{args.seed}.json")
    if args.trace:
        layer, table = per_layer(result, sampler, run_dir)
        print("# self time per span (measured window)")
        for line in table:
            print(line)
        print("# per-layer metrics")
        for name, value in layer.items():
            print(f"{name:32s} {value:14.4f}")
        if os.path.isfile(last_untraced):
            with open(last_untraced) as fh:
                untraced = json.load(fh)
            print("# tracing overhead (traced - untraced, same workload and seed)")
            for name, value in gated.items():
                base = untraced.get(name)
                if base:
                    print(f"{name:16s} {value - base:+12.4f} "
                          f"({100.0 * (value - base) / base:+.1f} %)")
        else:
            print("# tracing overhead: no untraced run of this workload and "
                  "seed to compare with")
        print(f"# unattributed Spark jobs: "
              f"{100.0 * layer['spark.unattributed_job_share']:.1f} %")
        values, wanted = layer, bench["per_layer"]
    else:
        with open(last_untraced, "w") as fh:
            json.dump(gated, fh)
        values, wanted = gated, bench["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted}
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(root, "_derived", os.path.basename(data)),
                  ignore_errors=True)
    print(json.dumps({"correct": not failed, "attempted": len(ops),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
