"""Benchmark of the DrugBank→KG2 engine: one command, two workloads.

    python3 perfbench/run.py --workload etl_drugbank --seed 1 --seconds 20 --trace 0

Workloads (single driver, ``local[nproc]``):

- ``etl_drugbank`` — batch job: seeded DrugBank-shaped XML + synonymizer
  dims on disk → EP1 (spotter, inline TF-IDF linker, alignment, longest-
  name merge on both branches) → EP2 → reference table committed. Every
  job runs in a fresh driver process, as a batch job would.
- ``serve_lookup`` — closed loop, one client: 50-entity
  ``Synonymizer.canonical_lookup`` requests (Zipf-drawn CURIEs and names,
  case/punctuation perturbed, plus misses) over the same dims.

This script generates the inputs from ``--seed`` (timed as set-up), runs
``worker.py`` in child processes, checks their outputs against the
generator's ground truth and the pure-Python reference, and prints one
JSON line: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs a traced process and
reports the per-layer metrics (layers a workload does not run read 0).

End-to-end metrics, the same names on every workload:

- ``setup_s``: driver session start + input generation (median of three).
- ``op_p50_ms``: median latency of the workload's operation — a whole
  ETL job or one lookup request.
- ``items_per_s``: drugs or entities processed per second.

The traced run also reports ``session.peak_rss_mb``, the driver JVM + Python
high-water RSS: it moves with JVM heap-growth timing by up to ~20% between
runs of the same input, too much for a bound.

``etl.trace_delta_s`` is the traced ETL job's wall time minus the median
untraced job time of the last runs in this checkout (``.perfbench_work``
keeps them); a traced run with no such history runs an untraced job first.

``failed / attempted`` is the error rate; its base is ETL jobs or requests.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
WORK = os.path.join(ROOT, ".perfbench_work")
LEDGER = os.path.join(WORK, "ledger.json")

# Input sizes. At these sizes the engine's cost is dominated by per-job
# overhead (a cold ETL job runs ~300 stages), so they are kept small
# enough that every run fits the benchmark's time budget.
ETL_DRUGS = 100
CONCEPTS = 2000       # ~4.6k synonymizer nodes
SERVE_REQUESTS = 300
SERVE_BATCH = 50
SERVE_WARMUP = 6          # requests before the timed window (JIT warm-up)

CHILD_TIMEOUT_S = 170
HISTORY = 20


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def child_env(work: str) -> dict:
    """Environment of every driver process: all cores, a driver heap well
    below physical RAM, the package importable by Python workers, and
    every scratch file inside the checkout."""
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    env["SPARK_DRIVER_MEMORY"] = f"{min(2048, phys_mb // 4)}m"
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["JAVA_TOOL_OPTIONS"] = " ".join(p for p in (
        env.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={env['TMPDIR']}", "-XX:-UsePerfData") if p)
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    return env


def load_ledger() -> dict:
    try:
        with open(LEDGER) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def save_ledger(ledger: dict) -> None:
    with open(LEDGER, "w") as f:
        json.dump(ledger, f, sort_keys=True)


def guard_env(env: dict, ledger: dict, workload: str) -> dict:
    """Record load and free scratch space; refuse to run when the scratch
    disk holds less than the shuffle volume the workload's last traced run
    recorded."""
    local = env["SPARK_LOCAL_DIRS"]
    free_mb = shutil.disk_usage(local).free / 2**20
    load1 = os.getloadavg()[0]
    need = ledger.get("peak_shuffle_mb", {}).get(workload, 0.0)
    print(f"perfbench: cores={env['SPARK_GRAFT_CPUS']} "
          f"driver_memory={env['SPARK_DRIVER_MEMORY']} load1={load1:.2f} "
          f"local_free_mb={free_mb:.0f} peak_shuffle_mb={need:.1f}",
          file=sys.stderr)
    if free_mb < need:
        die(f"only {free_mb:.0f} MB free in {local}, below the "
            f"{need:.0f} MB peak shuffle recorded by an earlier run")
    return {"env.load1": load1, "env.local_free_mb": free_mb}


def run_child(spec: dict, work: str, env: dict, tag: str) -> dict:
    """Run one worker process to completion and return its result. The
    worker gets its own process group; anything left in it afterwards
    (a lingering JVM) is killed and waited for. A traced worker writes its
    spans next to the ledger."""
    spec["spans"] = os.path.join(
        WORK, f"spans-{spec['workload']}-{spec['run_id']}.json")
    spec_path = os.path.join(work, f"spec_{tag}.json")
    out_path = os.path.join(work, f"result_{tag}.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    log_path = os.path.join(work, f"worker_{tag}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path,
             out_path],
            cwd=work, env=env, stdout=log, stderr=log, start_new_session=True)
    try:
        code = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        _reap_group(proc.pid)
    with open(log_path) as f:
        lines = f.readlines()
    if code != 0:
        sys.stderr.write("".join(lines[-40:]))
        die(f"{spec['workload']} worker failed (exit {code})")
    sys.stderr.write("".join(x for x in lines if x.startswith("perfbench:")))
    with open(out_path) as f:
        return json.load(f)


def _reap_group(pgid: int) -> None:
    """Wait until no process of the worker's group is left."""
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def timed_median(fn, n: int = 3):
    """Run ``fn`` n times; return (median seconds, last result)."""
    xs, out = [], None
    for _ in range(n):
        t = time.perf_counter()
        out = fn()
        xs.append(time.perf_counter() - t)
    return statistics.median(xs), out


# ---------------------------------------------------------------------------
# etl_drugbank
# ---------------------------------------------------------------------------


def etl(args, work, env, ledger):
    from perfbench import gen
    from perfbench.reference import Resolver

    gen_s, inp = timed_median(lambda: gen.make_etl_inputs(
        args.seed, os.path.join(work, "in"), ETL_DRUGS, CONCEPTS))
    base = {"workload": "etl_drugbank", "xml": inp.xml_path,
            "nodes": inp.nodes_path, "clusters": inp.clusters_path}

    def job(i, trace):
        run_work = os.path.join(work, f"job{i}")
        os.makedirs(run_work, exist_ok=True)
        return run_child({**base, "trace": trace, "work": run_work,
                          "run_id": f"etl-{args.seed}-{i}"}, work, env, str(i))

    # untraced ETL job times of earlier runs in this checkout: the traced
    # run's reference, so it only pays for an untraced job of its own when
    # there is none yet (the input sizes are fixed, and the job time is
    # dominated by per-job overhead, not by the seed's content)
    history = ledger.setdefault("etl_s", [])
    jobs = []
    t0 = time.perf_counter()
    if not args.trace:
        while not jobs or time.perf_counter() - t0 < args.seconds:
            jobs.append(job(len(jobs), False))
        history.extend(j["etl_s"] for j in jobs)
        del history[:-HISTORY]
    elif history:
        jobs = [job(0, True)]
    else:
        jobs = [job(0, False), job(1, True)]
        history.append(jobs[0]["etl_s"])

    res = Resolver(inp.dims.nodes, inp.dims.clusters)
    anchored = sorted(inp.anchored)
    want_hits = set()
    for d in inp.drugs:
        if not d.anchored:
            continue
        kg2 = res.curie(f"DRUGBANK:{d.dbid}")[0][0]
        for name in d.names:
            hit = res.name(name) if name else None
            if hit:
                want_hits.add((kg2, hit[0]))
    key = f"etl:{args.seed}:{ETL_DRUGS}:{CONCEPTS}"
    want_digest = ledger.setdefault("digests", {}).setdefault(
        key, jobs[0]["digest"])
    failed = 0
    for j in jobs:
        ok = True
        if sorted(j["drug_ids"]) != anchored:
            print("gate: anchored drugs not each present exactly once",
                  file=sys.stderr)
            ok = False
        if {tuple(h) for h in j["name_hits"]} != want_hits:
            print("gate: EP2 name-path hits differ from the mode-vote answer",
                  file=sys.stderr)
            ok = False
        if j["digest"] != want_digest:
            print("gate: output digest differs across runs", file=sys.stderr)
            ok = False
        failed += not ok

    etl_s = statistics.median(j["etl_s"] for j in jobs)
    metrics = {
        "setup_s": gen_s + statistics.median(j["session_s"] for j in jobs),
        "op_p50_ms": etl_s * 1000.0,
        "items_per_s": ETL_DRUGS / etl_s,
    }
    layers = None
    if args.trace:
        layers = jobs[-1]["layers"]
        layers["etl.trace_delta_s"] = (jobs[-1]["etl_s"]
                                       - statistics.median(history))
        layers["session.peak_rss_mb"] = jobs[-1]["peak_rss_mb"]
    return metrics, layers, len(jobs), failed


# ---------------------------------------------------------------------------
# serve_lookup
# ---------------------------------------------------------------------------


def serve(args, work, env, ledger):
    from perfbench import gen
    from perfbench.reference import Resolver

    def make():
        inp = gen.make_etl_inputs(args.seed, os.path.join(work, "in"),
                                  ETL_DRUGS, CONCEPTS)
        requests = gen.make_requests(args.seed, inp.dims, SERVE_REQUESTS,
                                     SERVE_BATCH)
        path = os.path.join(work, "in", "requests.json")
        with open(path, "w") as f:
            json.dump(requests, f)
        return inp, path

    gen_s, (inp, req_path) = timed_median(make)
    r = run_child({
        "workload": "serve_lookup", "trace": bool(args.trace), "work": work,
        "run_id": f"serve-{args.seed}", "nodes": inp.nodes_path,
        "clusters": inp.clusters_path, "requests": req_path,
        "seconds": args.seconds, "warmup": SERVE_WARMUP,
    }, work, env, "serve")

    res = Resolver(inp.dims.nodes, inp.dims.clusters)
    failed = 0
    for req in r["requests"]:
        want = sorted((row for e in req["entities"] for row in res.lookup(e)),
                      key=repr)
        if sorted((tuple(x) for x in req["rows"]), key=repr) != want:
            print("gate: lookup response differs from the reference resolver",
                  file=sys.stderr)
            failed += 1

    ms = [q["ms"] for q in r["requests"]]
    print("perfbench: request_ms", [round(x) for x in ms], file=sys.stderr)
    metrics = {
        "setup_s": gen_s + r["session_s"],
        "op_p50_ms": statistics.median(ms),
        "items_per_s": SERVE_BATCH * len(ms) / (sum(ms) / 1000.0),
    }
    layers = r.get("layers")
    if layers is not None:
        layers["session.peak_rss_mb"] = r["peak_rss_mb"]
    return metrics, layers, len(ms), failed


WORKLOADS = {"etl_drugbank": etl, "serve_lookup": serve}
UNITS = {"setup_s": "s", "op_p50_ms": "ms", "items_per_s": "1/s"}


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "drugbankner_spark")):
        die(f"no drugbankner_spark package under {ROOT}: nothing to measure")
    sys.path.insert(0, ROOT)
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = child_env(work)
    ledger = load_ledger()
    env_metrics = guard_env(env, ledger, args.workload)

    metrics, layers, attempted, failed = WORKLOADS[args.workload](
        args, work, env, ledger)
    if layers is not None:
        ledger.setdefault("peak_shuffle_mb", {})[args.workload] = (
            layers.pop("_shuffle_mb"))
        layers.update(env_metrics)
    save_ledger(ledger)
    shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        out = {name: {"value": layers.get(name, 0), "unit": unit}
               for name, unit in per_layer_units().items()}
    else:
        out = {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
