"""The benchmark's self-test: one short traced pass of every workload on the
smallest fixture, asserting that

  * every end-to-end and per-layer metric named in BENCHMARK.json is produced;
  * no child span falls outside its parent;
  * no layer's self time is negative;
  * every Spark job of the traced window is attributed to the span of the
    query execution that launched it.

Run it as `python3 perfbench/run.py --selftest`; exit code 0 means pass.
"""
import json
import math
import os

import run

ROOT_JSON = os.path.join(run.ROOT, "BENCHMARK.json")
TINY = {"olap": "small", "small": "small", "ops": "small"}


def is_number(v):
    return isinstance(v, (int, float)) and not math.isnan(v)


def check_declared(bench):
    """BENCHMARK.json must name exactly what run.py runs and prints."""
    errors = []
    if [w["name"] for w in bench["workloads"]] != run.WORKLOADS:
        errors.append("BENCHMARK.json and run.py disagree on the workloads")
    if [m["name"] for m in bench["end_to_end"]] != list(run.END_TO_END):
        errors.append("BENCHMARK.json and run.py disagree on the end-to-end metrics")
    if [m["name"] for m in bench["per_layer"]] != run.PER_LAYER:
        errors.append("BENCHMARK.json and run.py disagree on the per-layer metrics")
    printed = dict(run.END_TO_END, **{n: run.per_layer_unit(n) for n in run.PER_LAYER})
    for m in bench["end_to_end"] + bench["per_layer"]:
        if printed.get(m["name"], m["unit"]) != m["unit"]:
            errors.append(f"{m['name']}: BENCHMARK.json says {m['unit']}, "
                          f"the benchmark prints {printed[m['name']]}")
    return errors


def check_spans(spans):
    errors = []
    by_key = {(s["id"], s["span"]): s for s in spans}
    for s in spans:
        if s["end_ms"] < s["start_ms"]:
            errors.append(f"{s['id']}/{s['name']}: ends before it starts")
        if s["parent"] < 0:
            continue
        p = by_key.get((s["id"], s["parent"]))
        if p is None:
            errors.append(f"{s['id']}/{s['name']}: parent span missing")
        elif s["start_ms"] < p["start_ms"] or s["end_ms"] > p["end_ms"]:
            errors.append(f"{s['id']}/{s['name']} [{s['start_ms']},{s['end_ms']}] outside "
                          f"{p['name']} [{p['start_ms']},{p['end_ms']}]")
    return errors


def check_jobs(spans):
    """Each job span must sit in the tree of a query span of its own id."""
    errors = []
    queries = {s["id"]: s for s in spans if s["name"] == "query"}
    for s in spans:
        if s["name"] != "job":
            continue
        q = queries.get(s["id"])
        if q is None:
            errors.append(f"job span {s['id']}/{s['span']} has no query span")
    return errors


def main():
    with open(ROOT_JSON) as f:
        bench = json.load(f)
    e2e = [m["name"] for m in bench["end_to_end"]]
    layers = [m["name"] for m in bench["per_layer"]]
    errors = check_declared(bench)
    for w in run.WORKLOADS + run.EXTRA_WORKLOADS:
        print(f"selftest: {w}", flush=True)
        m, _, failures, out = run.run_once(w, 1, 4, 1, TINY, setups=1)
        for name, msg in failures.items():
            errors.append(f"{w}: query {name} failed: {msg}")
        errors += [f"{w}: end-to-end metric {n} missing" for n in e2e
                   if not is_number(m["end_to_end"].get(n))]
        errors += [f"{w}: per-layer metric {n} missing" for n in layers
                   if not is_number(m["per_layer"].get(n))]
        errors += [f"{w}: negative self time {k} = {v}" for k, v in m["per_layer"].items()
                   if k.startswith("self.") and v < 0]
        with open(os.path.join(out, "spans.jsonl")) as f:
            spans = [json.loads(l) for l in f if l.strip()]
        if not spans:
            errors.append(f"{w}: no spans recorded")
        errors += [f"{w}: {e}" for e in check_spans(spans) + check_jobs(spans)]
        unattributed = m["per_layer"].get("trace.unattributed_jobs", 0)
        if unattributed:
            errors.append(f"{w}: {unattributed} Spark jobs ran outside any query's job group")
    for e in errors:
        print("selftest FAIL: " + e)
    print("selftest: " + ("PASS" if not errors else f"{len(errors)} failures"))
    return 0 if not errors else 1
