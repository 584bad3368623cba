#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload relational_agg --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --smoke

Run from the root of a checkout. A run generates its inputs from the
seed (``gen.py``, cached under ``.perfbench/data``), builds the session
through ``session.get_spark`` and the queries through
``registry.spark_queries()``, times one cold pass (part of ``setup_s``),
checks every query against its DuckDB twin, runs the workload's
unmeasured warm-up passes, then as many measured passes as ``--seconds``
buys at the workload's nominal pass time, and prints one JSON line last.
Hypervisor steal is recorded per pass and per run.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced warm passes and reports the per-layer metrics (the
median over traced passes of each pass's sum); the untraced passes give
the tracing overhead. Every run writes its full artifact (host, inputs,
passes, oracle results, plan fingerprints, spans) to
``.perfbench/out/``.

``--smoke`` runs every workload once on sf0.001-sized inputs with
tracing on. It fails if a query errs or fails its oracle, if a metric
named in ``BENCHMARK.json`` is missing from an artifact, or if a layer
metric reads idle (or was never reported) on a workload it should move.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = "wikipedia_data_pipeline_spark"
# sf0.001-sized inputs for --tiny / --smoke
TINY = {"scale": 0.1}
LAUNCH = time.perf_counter()
# No pass starts later than this after launch (a run may take 180 s; the
# longest warm pass on a loaded host stays well under 10 s).
PASS_DEADLINE_S = 150
# conf keys whose values differ per launch
_VOLATILE_CONF = {
    "spark.app.id", "spark.app.startTime", "spark.app.submitTime",
    "spark.driver.host", "spark.driver.port",
}

sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
from oracle import check  # noqa: E402
from tracing import IDLE, Tracer, pass_layers, plan_fingerprint, task_skew  # noqa: E402
from workloads import END_TO_END, EXCLUDED, PER_LAYER, READS_IDLE, WORKLOADS  # noqa: E402


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals)


def _steal_pct(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    total = t1[1] - t0[1]
    return 100.0 * (t1[0] - t0[0]) / total if total > 0 else 0.0


def configure_env() -> dict[str, str]:
    """Host-shaped settings read by session.get_spark and the JVM launch:
    all cores, a JVM heap well below physical RAM, Spark local dirs and
    temp files inside the checkout, workers able to import the engine."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap_gb = max(1, min(4, _mem_total_mb() // 1024 // 4))
    env = {
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "WDP_DRIVER_MEMORY": f"{heap_gb}g",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        # every JVM of the launch: temp files here, no /tmp/hsperfdata_*
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def _jvm_peak_rss_mb(spark) -> float:
    pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def _descendants(pid: int) -> list[int]:
    """Every process under ``pid``, from the ppid field of /proc/*/stat."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):  # exited meanwhile
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _stop_jvm(spark) -> None:
    """Stop Spark, then end the JVM it runs in and wait until the JVM and
    every process under it (Python workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    family = _descendants(proc.pid)
    # Disconnect the Py4J client first: Python objects that still proxy
    # JVM objects would otherwise try to release them, when collected,
    # through a socket the exiting JVM has reset.
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in family):
        time.sleep(0.05)


def _conf_hash(spark) -> str:
    items = sorted(
        (k, v.replace(ROOT, "<root>"))
        for k, v in spark.sparkContext.getConf().getAll()
        if k not in _VOLATILE_CONF
    )
    return hashlib.sha256(json.dumps(items).encode()).hexdigest()[:16]


class Runner:
    """One workload on one session: passes, samples and traces."""

    def __init__(self, spark, queries, names, data_dir, tracer, eager) -> None:
        from wikipedia_data_pipeline_spark.operators import ranks

        self.spark = spark
        self.queries = queries
        self.names = names
        self.data_dir = data_dir
        self.tracer = tracer
        self.eager = eager
        self.unpersist_all = ranks.unpersist_all
        self.executions = 0
        self.errors: list[str] = []
        self.per_query: dict[str, dict] = {}

    def _span(self, name, parent=None, exec_id=None, traced=False):
        if traced:
            return self.tracer.span(name, parent, exec_id)
        return nullcontext()

    def run_query(self, name: str, exec_id: str, traced: bool, parent=None) -> dict:
        tr = self.tracer if traced else None
        self.executions += 1
        rec: dict = {"query": name}
        t0 = time.perf_counter()
        try:
            with self._span("query", parent, exec_id, traced) as root:
                before = tr.begin() if tr else None
                tb = time.perf_counter()
                with self._span("queries.build", root, exec_id, traced):
                    df = self.queries[name](self.spark, self.data_dir)
                t1 = time.perf_counter()
                build_jobs = tr.counters()[0] if tr else None
                t1b = time.perf_counter()
                with self._span("plans.plan", root, exec_id, traced):
                    plan = df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                with self._span("spark.action", root, exec_id, traced):
                    df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
                self.unpersist_all()
        except Exception as e:  # a failing query is a result, not a crash
            first_line = (str(e).splitlines() or [""])[0][:200]
            msg = f"{name}: {type(e).__name__}: {first_line}"
            self.errors.append(msg)
            rec.update(error=msg, wall_s=time.perf_counter() - t0)
            self.unpersist_all()
            return rec
        rec.update(wall_s=time.perf_counter() - t0, build_s=t1 - tb,
                   plan_s=t2 - t1b, action_s=t3 - t2)
        if tr:
            layers = tr.read(before, build_jobs)
            tree = plan.treeString()
            layers["queries.build_s"] = rec["build_s"]
            layers["plans.plan_s"] = rec["plan_s"]
            layers["spark.action_s"] = rec["action_s"]
            layers["plans.nodes"] = sum(1 for line in tree.splitlines() if line.strip())
            layers["sources.scan_splits"] = tr.scan_splits(plan)
            layers["_seen"].update(("queries.build_s", "plans.plan_s", "spark.action_s",
                                    "plans.nodes", "sources.scan_splits"))
            rec["layers"] = layers
            info = self.per_query.setdefault(
                name, {"eager_tagged": name in self.eager})
            info.setdefault("plan_fingerprint", plan_fingerprint(tree, self.data_dir))
            info.setdefault("build_jobs", []).append(layers["queries.build_jobs"])
            info.setdefault("task_skew", []).append(
                round(task_skew(layers["_stages"], _cpus()), 3))
            if layers["_stages"]:
                tasks, total_ms, max_ms = max(layers["_stages"], key=lambda st: st[1])
                info.setdefault("heaviest_stage", []).append(
                    {"tasks": tasks, "task_ms": total_ms, "longest_task_ms": max_ms})
        return rec

    def run_pass(self, label: str, traced: bool) -> dict:
        if traced:
            self.tracer.listen(True)
        ticks0 = _cpu_ticks()
        t0 = time.perf_counter()
        try:
            with self._span("pass", exec_id=label, traced=traced) as sid:
                recs = [self.run_query(n, f"{label}/{n}", traced, sid) for n in self.names]
        finally:
            if traced:
                self.tracer.listen(False)
        return {"label": label, "traced": traced, "wall_s": time.perf_counter() - t0,
                "steal_pct": _steal_pct(ticks0, _cpu_ticks()), "queries": recs}


def _late() -> bool:
    """Whether the run is past the point where it starts no more passes,
    so that it ends within the time a run may take on a loaded host."""
    return time.perf_counter() - LAUNCH > PASS_DEADLINE_S


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def run(workload: str, seed: int, seconds: float, trace: bool, tiny: bool) -> dict:
    wl = WORKLOADS[workload]
    sizes = TINY if tiny else {"scale": wl["scale"]}
    env = configure_env()
    data_name = f"{workload}-{'tiny-' if tiny else ''}{seed}"
    data_root = os.path.join(WORK, "data")
    os.makedirs(data_root, exist_ok=True)
    for old in os.listdir(data_root):  # keep one input set per workload
        if old.startswith(f"{workload}-") and old != data_name:
            shutil.rmtree(os.path.join(data_root, old), ignore_errors=True)
    data_dir = gen.generate(os.path.join(data_root, data_name), seed,
                            sizes["scale"])

    ticks0 = _cpu_ticks()
    t0 = time.perf_counter()
    tracer = Tracer(t0)
    span = tracer.span if trace else (lambda *a, **k: nullcontext())

    with span("session.get_spark"):
        from wikipedia_data_pipeline_spark.session import get_spark

        spark = get_spark(f"perfbench-{workload}")
    start_s = time.perf_counter() - t0
    try:
        with span("registry.import"):
            from wikipedia_data_pipeline_spark import registry

            queries = registry.spark_queries()
            oracles = registry.oracle_queries()
        if trace:
            tracer.attach(spark)
        runner = Runner(spark, queries, wl["queries"], data_dir, tracer,
                        registry.eager_queries())
        # spans only: per-query counters would slow the cold pass; the
        # codegen counter around it shows the compile time warm passes skip
        codegen0 = tracer.counters()[2] if trace else 0
        with span("cold_pass"):
            cold = runner.run_pass("cold", False)
        setup_s = time.perf_counter() - t0
        cold_codegen_ms = (tracer.counters()[2] - codegen0) / 1e6 if trace else None

        # The oracle check runs every query once more, so it doubles as
        # the first warm-up pass. Further warm-up passes are recorded but
        # not measured. The window then buys a fixed number of measured
        # passes, sized by the workload's nominal pass time on the
        # reference host, so that every run of a workload does the same
        # work and medians compare like with like. A traced run makes the
        # same passes, alternating untraced and traced ones. On a host so
        # loaded that the run nears its time limit, no further pass starts.
        t_oracle = time.perf_counter()
        oracle = check(spark, queries, oracles, wl["queries"], data_dir, _cpus())
        oracle_s = time.perf_counter() - t_oracle
        warmup = []
        for i in range(wl["warmup_passes"]):
            if _late():
                break
            warmup.append(runner.run_pass(f"warmup{i}", False))
        n_warm = max(2 if trace else 1, round(seconds / wl["nominal_pass_s"]))
        warm = []
        for i in range(n_warm):
            if i >= (2 if trace else 1) and _late():
                break
            warm.append(runner.run_pass(f"warm{i}", trace and i % 2 == 1))
        peak_rss_mb = _jvm_peak_rss_mb(spark)
        conf_hash = _conf_hash(spark)
    finally:
        t_stop = time.perf_counter()
        _stop_jvm(spark)
        stop_s = time.perf_counter() - t_stop
    steal = _steal_pct(ticks0, _cpu_ticks())

    untraced = [p for p in warm if not p["traced"]]
    samples = [q["wall_s"] for p in untraced for q in p["queries"]]
    mismatched = [n for n, v in oracle.items() if v != "ok"]
    attempted = runner.executions + len(oracle)
    failed = len(runner.errors) + len(mismatched)
    e2e = {
        "setup_s": setup_s,
        "pass_s": _median([p["wall_s"] for p in untraced]),
        "query_p50_s": _median(samples),
        # inclusive: below nine samples the default (exclusive) method
        # returns the largest sample
        "query_p90_s": (statistics.quantiles(samples, n=10, method="inclusive")[8]
                        if len(samples) >= 2 else _median(samples)),
        "ok_frac": 1.0 - failed / attempted,
    }
    artifact = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
        "tiny": tiny, "queries": wl["queries"], "why": wl["why"],
        "inputs": {"dir": os.path.relpath(data_dir, ROOT), **sizes,
                   "rows": gen.table_rows(data_dir)},
        "host": {"cpus": _cpus(), "mem_total_mb": _mem_total_mb(),
                 "steal_pct": steal, "spark_conf_hash": conf_hash,
                 "env": {k: v.replace(ROOT, "<root>") for k, v in env.items()}},
        "end_to_end": e2e,
        "end_to_end_defs": {k: v[1] for k, v in END_TO_END.items()},
        "peak_rss_mb": peak_rss_mb,
        "excluded_queries": EXCLUDED,
        "failed_frac": failed / attempted,
        "attempted": attempted, "failed": failed,
        "errors": runner.errors, "oracle": oracle,
        "query_samples": len(samples),
        "session_start_s": start_s,
        # seconds since launch when the session was first asked for, and
        # the oracle check's and the JVM shutdown's own seconds
        "phases_s": {"before_session": t0 - LAUNCH, "oracle": oracle_s, "stop": stop_s},
        "passes": [cold] + warmup + warm,
        "cut_short": len(warmup) < wl["warmup_passes"] or len(warm) < n_warm,
    }
    if trace:
        traced = [p for p in warm if p["traced"]]
        records = [q["layers"] for p in traced for q in p["queries"] if "layers" in q]
        per_pass = [pass_layers([q["layers"] for q in p["queries"] if "layers" in q],
                                _cpus())
                    for p in traced]
        layers = {k: _median([pp[k] for pp in per_pass]) for k in per_pass[0]}
        layers["session.start_s"] = start_s
        layers["session.cold_pass_s"] = cold["wall_s"]
        layers["spark.peak_rss_mb"] = peak_rss_mb
        artifact["layers"] = {k: layers[k] for k in PER_LAYER}
        # metrics some reader reported (possibly as 0) on a traced pass
        artifact["layers_seen"] = sorted(
            {"session.start_s", "session.cold_pass_s", "spark.peak_rss_mb"}.union(
                *(r["_seen"] for r in records)).intersection(PER_LAYER))
        artifact["cold_pass_codegen_ms"] = cold_codegen_ms
        artifact["layer_map"] = {k: {"unit": v[0], "moves": v[2], "on": v[3],
                                     "flat_on": v[4]}
                                 for k, v in PER_LAYER.items()}
        artifact["tracing_overhead_s"] = (
            _median([p["wall_s"] for p in traced]) - e2e["pass_s"]
        )
        artifact["per_query"] = runner.per_query
        artifact["spans"] = tracer.spans
        for r in records:  # raw stage lists only bloat the file
            del r["_stages"], r["_seen"]
    return artifact


def _write_artifact(artifact: dict) -> str:
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    name = "{workload}-seed{seed}-trace{trace}{t}.json".format(
        t="-tiny" if artifact["tiny"] else "", **artifact)
    path = os.path.join(out_dir, name)
    with open(path, "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
        fh.write("\n")
    return path


def _result_line(artifact: dict) -> dict:
    if artifact["trace"]:
        metrics = {k: {"value": v, "unit": PER_LAYER[k][0]}
                   for k, v in artifact["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k][0]}
                   for k, v in artifact["end_to_end"].items()}
    return {"correct": artifact["failed"] == 0, "attempted": artifact["attempted"],
            "failed": artifact["failed"], "metrics": metrics}


def _summary(artifact: dict) -> str:
    e = artifact["end_to_end"]
    line = (
        f"{artifact['workload']} seed={artifact['seed']}: setup_s={e['setup_s']:.3f} s "
        f"pass_s={e['pass_s']:.3f} s query_p50_s={e['query_p50_s']:.3f} s "
        f"query_p90_s={e['query_p90_s']:.3f} s (n={artifact['query_samples']}) "
        f"peak_rss_mb={artifact['peak_rss_mb']:.1f} MB "
        f"failed_frac={artifact['failed_frac']:.4f} "
        f"({artifact['failed']}/{artifact['attempted']}) "
        f"steal={artifact['host']['steal_pct']:.2f}% "
        f"passes={len(artifact['passes'])}"
    )
    if artifact["trace"]:
        line += f" tracing_overhead_s={artifact['tracing_overhead_s']:.3f}"
    return line


def _smoke_problems(workload: str, art: dict, bench: dict) -> list[str]:
    """What a traced tiny artifact of ``workload`` lacks."""
    out = []
    if art["failed"]:
        out.append(f"{art['failed']} failed query executions: "
                   f"{art['errors'] + [n for n, v in art['oracle'].items() if v != 'ok']}")
    for m in bench["end_to_end"]:
        if m["name"] not in art["end_to_end"]:
            out.append(f"end-to-end {m['name']} missing")
    for m in bench["per_layer"]:
        name = m["name"]
        if name not in art["layers"]:
            out.append(f"per-layer {name} missing")
        elif workload in PER_LAYER[name][3]:
            if name not in art["layers_seen"]:
                out.append(f"per-layer {name} never reported")
            elif name not in READS_IDLE and art["layers"][name] == IDLE.get(name, 0.0):
                out.append(f"per-layer {name} reads idle ({art['layers'][name]})")
    if "tracing_overhead_s" not in art:
        out.append("tracing_overhead_s missing")
    if not art["cold_pass_codegen_ms"]:
        out.append("operators.codegen_ms: no compile time on the cold pass")
    return out


def smoke() -> int:
    """Each workload once, sf0.001-sized, traced; see the module docstring
    for what fails it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    problems = []
    for w in bench["workloads"]:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
               "--seed", "0", "--seconds", "1", "--trace", "1", "--tiny"]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            problems.append(f"{w['name']}: exit {proc.returncode}")
            continue
        path = os.path.join(WORK, "out", f"{w['name']}-seed0-trace1-tiny.json")
        with open(path) as fh:
            art = json.load(fh)
        problems += [f"{w['name']}: {p}" for p in _smoke_problems(w["name"], art, bench)]
        print(_summary(art), flush=True)
    for p in problems:
        print("smoke:", p, file=sys.stderr)
    print("smoke:", "FAIL" if problems else "ok")
    return 1 if problems else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="sf0.001-sized inputs")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found in {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    artifact = run(args.workload, args.seed, args.seconds, bool(args.trace), args.tiny)
    path = _write_artifact(artifact)
    print(_summary(artifact))
    print(f"artifact: {os.path.relpath(path, ROOT)}")
    print(json.dumps(_result_line(artifact)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
