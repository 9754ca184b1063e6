"""Benchmark entry point.

    python3 perfbench/run.py --workload sparkify_etl --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload in turn

Run from the root of a checkout. One run generates the workload's inputs
from ``--seed`` (untimed), sets up a Spark session several times and
reports the median set-up, then repeats the job until ``--seconds`` of job
time are measured (BENCHMARK.json's 1 s means one job), checking every
job's output outside the timed region. With ``--trace 1`` it also runs one
traced job and reports the per-layer metrics instead of the end-to-end ones.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Everything the run
writes lives under ``.perfbench_work/`` in the checkout and is removed when
the run ends, whether it succeeds or fails.
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
import traceback
from pathlib import Path

import gen
import spans
import workloads

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "udacity_data_engineering_spark"

#: the metric declarations (name, unit, better) live in BENCHMARK.json only
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = [m["name"] for m in SPEC["end_to_end"]]
PER_LAYER = [m["name"] for m in SPEC["per_layer"]]
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
#: per-layer metrics every workload fills, whatever its own layers
COMMON_LAYERS = ("session.", "trace.")

WORKLOAD_NAMES = tuple(workloads.WORKLOADS)
#: session set-ups per run; setup_s is their median
SETUPS = 3


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOAD_NAMES, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=1.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: Path) -> None:
    """Point every scratch location of Python, Spark and the JVM into
    ``work`` so the run writes nothing outside the checkout."""
    for sub in ("tmp", "local", "warehouse", "jvm"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "TMPDIR": str(work / "tmp"),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_WAREHOUSE_DIR": str(work / "warehouse"),
        "SPARK_DRIVER_MEMORY": "1g",
        "PYTHONDONTWRITEBYTECODE": "1",
        # every JVM, the spark-submit launcher included
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'jvm'} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            "--driver-java-options -Xms1g pyspark-shell"
        ),
    })
    sys.dont_write_bytecode = True


def _pids() -> list:
    """This process and, once Spark runs, the driver JVM."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return ["self"] if proc is None else ["self", proc.pid]


def _reset_hwm(pids) -> None:
    """Lower each process's VmHWM to its current resident size."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def _peak_rss_mb(pids) -> float:
    """Sum of the VmHWM of ``pids``."""
    total = 0.0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1]) / 1024
    return total


def _first_job(spark) -> None:
    """First job of a fresh session: starts the Python workers and ships
    the package to them."""
    n = spark.sparkContext.defaultParallelism
    spark.range(0, 10_000, 1, n).mapInPandas(lambda it: it, "id long") \
        .write.format("noop").mode("overwrite").save()


def _stop() -> None:
    """Stop any stream, the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    try:
        spark = SparkSession.getActiveSession()
        if spark is not None:
            for q in spark.streams.active:
                q.stop()
            spark.stop()
    except Exception:  # the JVM link broke, e.g. a signal interrupted a call
        traceback.print_exc()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _remove_stale(parent: Path) -> None:
    """Delete the directories of earlier runs that were killed outright
    (their process is gone), so every run starts from the same disk."""
    for d in parent.glob("*-*"):
        pid = d.name.rsplit("-", 1)[1]
        if pid.isdigit() and not Path(f"/proc/{pid}").exists():
            shutil.rmtree(d, ignore_errors=True)


def run_one(args) -> int:
    # a terminated run still unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _remove_stale(work.parent)
    _isolate(work)
    sys.path.insert(0, str(ROOT))

    spark = None
    wall = {"start": time.perf_counter()}
    try:
        inputs = gen.GENERATORS[args.workload](args.seed, work / "input")
        wall["generated"] = time.perf_counter()
        from udacity_data_engineering_spark.session import build_session

        wl = workloads.WORKLOADS[args.workload](inputs, work)
        cpus = os.cpu_count() or 4
        setups = []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = build_session(app_name="perfbench", cpus=cpus)
            t1 = time.perf_counter()
            _first_job(spark)
            t2 = time.perf_counter()
            wl.prepare(spark)
            t3 = time.perf_counter()
            setups.append((t3 - t0, t1 - t0, t2 - t1, t3 - t2))
        wall["set_up"] = time.perf_counter()
        print("set-ups (total, build, warm-up, prepare) seconds: " + "; ".join(
            ", ".join(f"{t:.2f}" for t in s) for s in setups), file=sys.stderr)

        attempted = failed = 0
        job_times: list[float] = []
        batch_times: list[float] = []
        peaks: list[float] = []
        pids = _pids()

        def attempt(i: int, job) -> dict | None:
            nonlocal attempted, failed
            attempted += 1
            outcome = None
            try:
                # peak memory of the job alone: neither set-up nor the check
                _reset_hwm(pids)
                outcome = job(spark, i)
                peaks.append(_peak_rss_mb(pids))
                problems = wl.check(spark, outcome)
            except Exception:
                problems = [traceback.format_exc()]
                for q in spark.streams.active:  # a failed replay must not linger
                    q.stop()
            if problems:
                failed += 1
                print(f"check failed (job {i}): " + "; ".join(problems)[:2000], file=sys.stderr)
            return outcome

        def clean(outcome) -> None:
            if outcome is not None:
                wl.clean(spark, outcome)

        measured, i = 0.0, 0
        while i == 0 or measured < args.seconds:
            i += 1
            outcome = attempt(i, lambda s, i: wl.job(s, i, workloads.NO_SPAN))
            if outcome is not None:
                job_times.append(outcome["job_s"])
                batch_times += outcome.get("batch_s", [])
                measured += outcome["job_s"] + outcome.get("readback_s", 0.0)
            else:
                measured += args.seconds / 4  # a failing job still ends the run
            clean(outcome)
        job_s = statistics.median(job_times) if job_times else float("nan")
        peak_rss_mb = max(peaks) if peaks else float("nan")
        wall["measured"] = time.perf_counter()
        print("job seconds: " + ", ".join(f"{t:.2f}" for t in job_times)
              + (f"; micro-batches: {', '.join(f'{t:.2f}' for t in batch_times)}"
                 if batch_times else ""), file=sys.stderr)

        if args.trace:
            # overhead = traced job minus an untraced job in the same (warm) state
            plain = attempt(i + 1, lambda s, i: wl.job(s, i, workloads.NO_SPAN))
            if plain is not None:
                batch_times += plain.get("batch_s", [])
                clean(plain)
            tracer = spans.Tracer(spark)
            outcome = attempt(i + 2, lambda s, i: wl.traced_job(s, i, tracer))
            if outcome is None or plain is None:
                raise RuntimeError("the traced pass failed; see the check output above")
            # the layers this workload calls must fill their own metrics;
            # only the metrics of the other layers read 0
            own = [n for n in PER_LAYER if n.startswith((*COMMON_LAYERS, *wl.layers_prefixes))]
            found = {
                "session.build_s": statistics.median(s[1] for s in setups),
                "session.warmup_s": statistics.median(s[2] for s in setups),
                "trace.overhead_s": outcome["job_s"] - plain["job_s"],
                **wl.layers(spark, tracer, outcome),
            }
            if wl.prepare_metric:
                found[wl.prepare_metric] = statistics.median(s[3] for s in setups)
            if batch_times:
                tail, pct = workloads.batch_tail(batch_times)
                found.update({"streaming.batch_p50_s": statistics.median(batch_times),
                              "streaming.batch_tail_s": tail,
                              "streaming.batch_tail_pct": pct})
            clean(outcome)
            missing = [n for n in own if n not in found]
            if missing:
                raise RuntimeError(f"the traced pass did not produce {missing}")
            metrics = {n: found[n] if n in own else 0.0 for n in PER_LAYER}
        else:
            found = {
                "setup_s": statistics.median(s[0] for s in setups),
                "job_s": job_s,
                "rows_per_s": inputs["records"] / job_s,
                "peak_rss_mb": peak_rss_mb,
            }
            metrics = {n: found[n] for n in END_TO_END}
        wall["reported"] = time.perf_counter()
    finally:
        try:
            if "pyspark" in sys.modules:
                _stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                work.parent.rmdir()  # only when no other run is using it
            except OSError:
                pass
    wall["stopped"] = time.perf_counter()
    marks = list(wall.items())
    print("wall seconds: " + ", ".join(
        f"{name} {t - prev:.1f}" for (_, prev), (name, t) in zip(marks, marks[1:])
    ), file=sys.stderr)

    print(f"workload {args.workload}  seed {args.seed}  timed jobs {len(job_times)}"
          f"{'  (+1 untraced, +1 traced)' if args.trace else ''}")
    for name, value in metrics.items():
        print(f"  {name} = {value:.6g} {UNITS[name]}")
    print(f"  error_rate = {failed / attempted:.6g} ({failed} of {attempted} checked jobs)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


def run_all(args) -> int:
    """Every workload in its own process, one after another."""
    results = {}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, str(Path(__file__)), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            print(f"workload {name} failed with exit code {proc.returncode}", file=sys.stderr)
            return 1
        results[name] = json.loads(lines[-1])
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
    }))
    return 0


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"{PACKAGE}/ not found next to {HERE.name}/: run from a full checkout",
              file=sys.stderr)
        return 2
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
