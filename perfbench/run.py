"""Benchmark entry point.

    python3 perfbench/run.py --workload {batch_classify,fetch_infer,query_mix}
        --seed N --seconds S --trace {0,1}

Generates the workload's inputs from the seed, starts a fresh Spark
process for the workload (``child.py``), checks every op's output, and
prints a metrics table followed, as the last stdout line, by one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones (see ``BENCHMARK.json``).

Everything the run writes lives under ``.perfbench_work/`` at the root
of the checkout and is removed at the end, except the trace of a traced
run (``.perfbench_work/trace-<workload>-<seed>.json``).
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
ROOT = os.path.dirname(HERE)
CHILD_TIMEOUT_S = 160


def metric_units(kind: str) -> dict[str, str]:
    """``{name: unit}`` of the ``end_to_end`` or ``per_layer`` metrics
    declared in ``BENCHMARK.json``."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(d))
    return pids


def _stop_session(sid: int, grace_s: float = 10.0) -> None:
    """Stop every process the child left behind (JVM, Python workers)
    and wait until each has ended."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        pids = _session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
        if time.monotonic() > deadline:
            sig = signal.SIGKILL


def _child_env(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(_cores()),
        # Python workers import the engine from the checkout
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    env.pop("PYSPARK_DRIVER_PYTHON", None)
    return env


def _quantile(values: list[float], q: int) -> float:
    """q-th percentile (inclusive method); the value itself for n == 1."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def check_ops(workload: str, inputs: dict, ops: list[dict]) -> None:
    """Set ``rec["error"]`` on every op whose output is wrong."""
    import check

    if workload == "query_mix":
        oracle = check.OracleHashes(ROOT, inputs["tables_dir"])
        try:
            for rec in ops:
                if not rec["error"]:
                    rec["error"] = oracle.check(rec["name"], rec["cols"], rec["hash"], rec["n"])
        finally:
            oracle.close()
        return
    if workload == "fetch_infer":
        objects = check.expected_object_predictions(inputs["objects_dir"], inputs["ids_path"])
    for rec in ops:
        if rec["error"]:
            pass
        elif workload == "batch_classify":
            rec["error"] = check.check_tsv(rec["out"], inputs["expected"])
        else:
            rec["error"] = check.check_parquet(rec["out"], objects)
        if rec.get("out"):
            shutil.rmtree(rec["out"], ignore_errors=True)


def end_to_end(res: dict, setup_s: float) -> tuple[dict, dict]:
    """Metrics over the timed ops that succeeded; over every timed op
    that finished if none did (the result then reads not correct)."""
    timed = [r for r in res["ops"] if r["phase"] == "timed" and "t" in r]
    ops = [r for r in timed if not r["error"]] or timed
    if not ops:
        raise RuntimeError("no timed op finished")
    times = [r["t"] for r in ops]
    values = {
        "setup_s": setup_s,
        "rows_per_s": sum(r["rows"] for r in ops) / sum(times),
        "query_p50_s": statistics.median(times),
        "query_p90_s": _quantile(times, 90),
        "queries_per_s": len(ops) / res["loop_s"],
        "peak_rss_mb": res["peak_rss_mb"],
    }
    rows = [r["rows"] / r["t"] for r in ops]
    detail = {
        "samples": len(ops),
        "rows_per_s_q1_q3": (_quantile(rows, 25), _quantile(rows, 75)),
        "query_s_q1_q3": (_quantile(times, 25), _quantile(times, 75)),
    }
    return values, detail


def per_layer(res: dict, names) -> dict:
    """Median of each layer metric over its samples; 0 where the
    workload does not reach the layer."""
    return {
        name: statistics.median(res["layers"][name]) if res["layers"].get(name) else 0.0
        for name in names
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["batch_classify", "fetch_infer", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its Spark processes (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    sys.path.insert(0, ROOT)
    import swat_mapreduce_spark  # noqa: F401 - fail fast when the program is absent

    import gen

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t_start = time.time()
    try:
        inputs = gen.generate(args.workload, args.seed, os.path.join(work, "inputs"))
        if args.workload == "batch_classify":
            import check

            inputs["expected"] = check.expected_predictions(inputs["manifest_dir"])
            inputs["clean_rows"] = len(inputs["expected"])
        cfg = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "repo_root": ROOT,
            "work_dir": work,
            "input": {k: v for k, v in inputs.items() if k != "expected"},
            "result_path": os.path.join(work, "result.json"),
            "trace_path": os.path.join(base, f"trace-{args.workload}-{args.seed}.json"),
        }
        cfg_path = os.path.join(work, "config.json")
        with open(cfg_path, "w", encoding="utf-8") as f:
            json.dump(cfg, f)

        launched = time.time()
        child = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), cfg_path],
            cwd=work,
            env=_child_env(work),
            stdin=subprocess.DEVNULL,
            stdout=sys.stderr.fileno(),
            start_new_session=True,
        )
        try:
            rc = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: child exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
            rc = -1
        finally:
            _stop_session(child.pid)
            child.wait()
        if rc != 0:
            print(f"perfbench: child failed with code {rc}", file=sys.stderr)
            return 1
        with open(cfg["result_path"], encoding="utf-8") as f:
            res = json.load(f)

        t_child = time.time()
        check_ops(args.workload, inputs, res["ops"])
        print(
            f"perfbench: inputs {launched - t_start:.1f}s, setup {res['ready'] - launched:.1f}s, "
            f"child total {t_child - launched:.1f}s, checks {time.time() - t_child:.1f}s",
            file=sys.stderr,
        )
        failed = [r for r in res["ops"] if r["error"]]
        for r in res["ops"]:
            print(f"perfbench: op {r['i']} {r['phase']} {r.get('name', '')} {r.get('t', 0):.3f}s", file=sys.stderr)
        for r in failed:
            print(f"perfbench: op {r['i']} ({r['phase']} {r.get('name', '')}) failed: {r['error']}", file=sys.stderr)
        attempted = len(res["ops"])

        if args.trace:
            units = metric_units("per_layer")
            values, detail = per_layer(res, units), {}
        else:
            units = metric_units("end_to_end")
            values, detail = end_to_end(res, res["ready"] - launched)
        print(f"workload {args.workload}  seed {args.seed}  cores {res['cores']}  trace {args.trace}")
        for name, unit in units.items():
            print(f"  {name:32s} {values[name]:>16.6g} {unit}")
        print(f"  {'ops_failed_frac':32s} {len(failed) / attempted:>16.6g} ratio")
        print(f"  ops attempted {attempted}  succeeded {attempted - len(failed)}  failed {len(failed)}")
        if detail:
            print(
                f"  timed samples {detail['samples']}; rows_per_s q1..q3 "
                f"{detail['rows_per_s_q1_q3'][0]:.6g}..{detail['rows_per_s_q1_q3'][1]:.6g}; "
                f"query_s q1..q3 {detail['query_s_q1_q3'][0]:.6g}..{detail['query_s_q1_q3'][1]:.6g}"
            )
        print(json.dumps({
            "correct": not failed,
            "attempted": attempted,
            "failed": len(failed),
            "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
