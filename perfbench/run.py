"""Engine benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload serve_points --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root.  The last line of standard output is one JSON object
(correct, attempted, failed, metrics); the line before it holds the run's details
(sample counts, per-call medians, session pinning).  ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer ones, and writes
the recorded spans under ``.perfbench_out/``.  ``--smoke`` runs every workload once
at tiny sizes and shows that every output check fails on a wrong expected value.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path
from types import SimpleNamespace

T_START = time.perf_counter()

ROOT = Path(__file__).resolve().parents[1]
TESTDATA = Path("/root/testdata")
HEAP = "4g"
# A run lasts about a minute, while the JVM's JIT at its default thresholds takes
# some five operations to settle.  Lower thresholds let the warm-up reach the
# compiled state a long-lived serving process runs in.  The heap is committed and
# touched at start, so peak_rss_mb does not follow the collector's heap-sizing
# choices; it reads the fixed heap plus what grows outside it.
JVM_OPTS = ("-XX:CompileThresholdScaling=0.1", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch")
SETUP_REPS = 3
# Operations come in whole rounds: a run ends after the first round that finishes
# past --seconds, so every run measures at least this many operations.
ROUND_OPS = 2


def _refuse_testdata(path: Path) -> None:
    p = path.resolve()
    if p == TESTDATA or TESTDATA in p.parents:
        raise SystemExit(f"refusing to stage benchmark data under {TESTDATA}: {p}")


def _pin_session_env(tmp: Path) -> dict:
    """Session size through the variables the engine reads, within the host's
    cores; the heap leaves room for the Python workers."""
    nproc = os.cpu_count() or 1
    k = min(4, nproc)
    os.environ["SPARK_GRAFT_CPUS"] = str(k)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    # Python workers import the engine and the benchmark from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    for sub in ("pytmp", "jtmp", "local", "warehouse"):
        (tmp / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp / "pytmp")
    # Spark prefers this variable over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "local")
    return {"nproc": nproc, "k": k, "heap": HEAP}


def _start_session(tmp: Path):
    from geojson_utility_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        shuffle_partitions=int(os.environ["SPARK_GRAFT_CPUS"]),
        extra_conf={
            "spark.local.dir": str(tmp / "local"),
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
            "spark.driver.extraJavaOptions": " ".join(
                [f"-Djava.io.tmpdir={tmp / 'jtmp'}", *JVM_OPTS]
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark, its JVM and the Python workers, and wait until each has ended."""
    from pyspark import SparkContext

    from perfbench.probes import process_tree

    children = process_tree()[1:]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in children if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _median(values):
    return statistics.median(values) if values else 0.0


def _checks(res, failures: list, wrong_too: bool, seconds: dict) -> None:
    """Runs each check of ``res``, adding its wall time to ``seconds[name]``."""
    from perfbench.oracle import CheckFailed

    for chk in res.checks:
        t0 = time.perf_counter()
        try:
            chk.run()
        except Exception as e:  # a broken check or output shape counts as incorrect
            failures.append(f"{chk.name}: {type(e).__name__}: {e}")
            continue
        finally:
            seconds[chk.name] = seconds.get(chk.name, 0.0) + time.perf_counter() - t0
        if wrong_too:
            try:
                chk.run(wrong=True)
            except CheckFailed:
                continue
            failures.append(f"{chk.name}: passed with a wrong expected value")


def _lifecycle_delta(before, after) -> dict:
    return {
        "persisted_rdds_after_op": float(after[0] - before[0]),
        "storage_mb_after_op": after[1] - before[1],
        "live_broadcasts_after_op": float(after[2] - before[2]),
    }


def _spark_per_op(run, res) -> dict:
    from perfbench.workloads import shuffle_mb

    jobs = stages = 0
    for g in res.groups:
        j, s = run.probe.jobs(g)
        jobs += j
        stages += s
    out = {"jobs_per_op": float(jobs), "stages_per_op": float(stages)}
    if res.plans:
        out["shuffle_write_mb"] = sum(shuffle_mb(p) for p in res.plans)
    return out


def measure(run, wl, seconds: float, session_s: float, smoke: bool) -> dict:
    """Set up, warm up, then run rounds of operations for ``seconds`` of wall time."""
    from perfbench.workloads import WARMUP_BASE

    setups, states = [], []
    for rep in range(1 if smoke else SETUP_REPS):
        t0 = time.perf_counter()
        states.append(wl.stage(run, rep))
        setups.append(time.perf_counter() - t0)
    for st in states[1:]:
        wl.release(st)
    wl.use(run, states[0])

    # untimed, unchecked operations on inputs of their own, so the measured ones
    # do not pay first-use JIT, codegen and Python-worker start
    warm_times = []
    for w in range(0 if smoke else wl.warmup):
        t0 = time.perf_counter()
        wl.op(run, WARMUP_BASE + w, f"warm{w}")
        warm_times.append(time.perf_counter() - t0)

    ops, failures, errors, checked = [], [], 0, {}
    attempted = 0
    per_round = 1 if smoke else ROUND_OPS
    start = time.perf_counter()
    while attempted % per_round or attempted == 0 or (
        not smoke and time.perf_counter() - start < seconds
    ):
        run.tracer.operation(attempted)
        before = run.probe.lifecycle()
        try:
            res = wl.op(run, attempted, f"op{attempted}")
        except Exception:
            errors += 1
            traceback.print_exc(file=sys.stderr)
            attempted += 1
            continue
        attempted += 1
        res.layer.update(_lifecycle_delta(before, run.probe.lifecycle()))
        res.layer.update(_spark_per_op(run, res))
        _checks(res, failures, smoke, checked)
        ops.append(res)

    # traced only: layers timed through their own public calls, after the measured
    # operations so they neither warm nor disturb them
    if run.traced:
        layer_runs, side_checks = wl.traced_extra(run)
        _checks(SimpleNamespace(checks=side_checks), failures, smoke, checked)
    else:
        layer_runs = {}

    op_times = [sum(r.seconds.values()) for r in ops]
    calls = sorted({c for r in ops for c in r.seconds})
    keys = sorted({k for r in ops for k in r.layer})
    per_layer = {k: _median([r.layer[k] for r in ops if k in r.layer]) for k in keys}
    per_layer.update(layer_runs)
    per_layer["session_start_s"] = session_s
    per_layer.setdefault("prepare_s", _median(setups) if wl.name == "serve_points" else 0.0)
    per_layer["traced_op_s"] = _median(op_times)
    return {
        "attempted": attempted,
        "failed": errors,
        "failures": failures,
        "end_to_end": {
            "setup_s": session_s + _median(setups),
            "op_s": _median(op_times),
            "items_per_s": sum(r.items for r in ops) / sum(op_times) if ops else 0.0,
        },
        "per_layer": per_layer,
        "detail": {
            "samples": len(ops),
            "session_s": round(session_s, 4),
            "check_s": {k: round(v, 4) for k, v in sorted(checked.items())},
            "checks": sorted(checked),
            "setup_samples": [round(s, 4) for s in setups],
            "warmup_s": [round(s, 4) for s in warm_times],
            "op_s": [round(s, 4) for s in op_times],
            "op_calls": [{c: round(v, 3) for c, v in r.seconds.items()} for r in ops],
            "call_s_median": {c: _median([r.seconds[c] for r in ops if c in r.seconds])
                              for c in calls},
            "per_op": {k: per_layer[k] for k in keys},
        },
    }


def _spec():
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def _result_metrics(spec, measured: dict, peak_mb: float, traced: bool) -> dict:
    if traced:
        values = measured["per_layer"]
        names = spec["per_layer"]
    else:
        values = {**measured["end_to_end"], "peak_rss_mb": peak_mb}
        names = spec["end_to_end"]
    return {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in names
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    if not (ROOT / "geojson_utility_spark").is_dir():
        print(f"no engine sources at {ROOT}/geojson_utility_spark", file=sys.stderr)
        return 2
    tmp = ROOT / ".perfbench_tmp" / f"run-{os.getpid()}"
    _refuse_testdata(tmp)
    # before the engine is imported: its session module reads the core count once,
    # at import, for the shuffle partitions
    pinned = _pin_session_env(tmp)
    sys.path.insert(0, str(ROOT))
    from perfbench.probes import RssSampler, SparkProbe, Tracer
    from perfbench.workloads import SIZES, SMOKE_SIZES, WORKLOADS, Run

    names = list(WORKLOADS) if args.smoke else [args.workload]
    if not args.smoke and args.workload not in WORKLOADS:
        shutil.rmtree(tmp, ignore_errors=True)
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    spec = _spec()
    results = {}
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = _start_session(tmp)
            session_s = time.perf_counter() - t0
            try:
                probe = SparkProbe(spark)
                for name in names:
                    tracer = Tracer(args.trace == 1)
                    run = Run(spark, str(tmp), args.seed,
                              (SMOKE_SIZES if args.smoke else SIZES)[name],
                              tracer, probe, args.trace == 1)
                    results[name] = measure(run, WORKLOADS[name](), args.seconds,
                                            session_s, args.smoke)
                    if tracer.enabled:
                        out = ROOT / ".perfbench_out"
                        out.mkdir(exist_ok=True)
                        tracer.write(str(out / f"spans-{name}-seed{args.seed}.json"))
            finally:
                t_stop = time.perf_counter()
                _stop_session(spark)
                stop_s = time.perf_counter() - t_stop
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    if args.smoke:
        bad = {n: r["failures"] for n, r in results.items() if r["failures"] or r["failed"]}
        print(json.dumps({"smoke": {n: r["detail"] for n, r in results.items()}}))
        print(json.dumps({"correct": not bad, "failures": bad}))
        return 1 if bad else 0

    r = results[args.workload]
    for f in r["failures"]:
        print(f"check failed: {f}", file=sys.stderr)
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "wall_s": round(time.perf_counter() - T_START, 4), "stop_s": round(stop_s, 4),
              **pinned, "peak_rss_mb": rss.peak_mb, **r["detail"]}
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not r["failures"],
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": _result_metrics(spec, r, rss.peak_mb, args.trace == 1),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
