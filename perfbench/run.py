"""Lakehouse benchmark: one seeded workload in one local Spark session.

    python3 perfbench/run.py --workload image_ingest --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer ones and
the span tree is written to ``.perfbench/traces/``. See
``perfbench/README.md`` for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CONFIG = os.path.join(REPO, "BENCHMARK.json")

DRIVER_MEM = "1g"
MAX_CPUS = 2
WARMUP_ROUNDS = 1
TIMED_ROUNDS = 2  # at least; more while --seconds have not passed
# timed rounds of a --trace 1 run: traced, untraced, traced, so that a
# linear drift cancels out of trace.overhead_frac
TRACE_PLAN = (True, False, True)


def _pin_environment(tmp: str) -> int:
    """Session settings fixed from the benchmark side; returns N for
    ``local[N]``."""
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_UI="false",
        SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
        TMPDIR=os.path.join(tmp, "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # Python workers unpickle functions from the library and from
        # the workload module by reference
        PYTHONPATH=os.pathsep.join([REPO, HERE]),
        # few malloc arenas: native memory of the JVM and the workers
        # (and so peak_rss_mb) stops depending on thread timing
        MALLOC_ARENA_MAX="2",
        # no /tmp/hsperfdata_* file from the launcher JVM: a run writes
        # only inside the repository
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    os.environ.pop("SPARK_MASTER", None)
    return cpus


def _start_session(tmp: str, cpus: int, trace: bool):
    from computer_vision_foundations_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} "
            f"-Dderby.system.home={tmp} -Xms{DRIVER_MEM} "
            # C1 only: the JIT settles within the warm-up round instead
            # of recompiling for dozens of rounds, so timed rounds are
            # flat (see README); cap JIT and GC threads so they do not
            # contend with the task slots
            "-XX:TieredStopAtLevel=1 -XX:CICompilerCount=2 "
            "-XX:ParallelGCThreads=2 -XX:ConcGCThreads=1 -XX:-UsePerfData"
        ),
    }
    if trace:
        # keep every job, stage and SQL execution of the run readable
        conf.update(
            {
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            }
        )
    return get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)


def _stop_session(spark) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    until every process this run started is gone."""
    from pyspark import SparkContext

    from tracing import descendants

    procs = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in procs):
        time.sleep(0.1)
    for p in procs:
        if os.path.exists(f"/proc/{p}"):
            os.kill(p, 9)


def _host_probe() -> float:
    """Seconds of a fixed pure-Python loop, taken before every round and
    printed, so a drift in host speed can be told apart from one in the
    program."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    return time.perf_counter() - t


def _tail(samples: list[float]) -> str:
    s = sorted(samples)

    def q(p: float) -> float:
        return s[min(len(s) - 1, int(p * len(s)))]

    return f"n={len(s)} p50={q(0.5):.4f} p90={q(0.9):.4f} max={s[-1]:.4f}"


def run(args) -> dict:
    sys.path.insert(0, REPO)
    sys.path.insert(0, HERE)
    with open(CONFIG) as f:
        config = json.load(f)
    tmp = os.path.join(REPO, ".perfbench", f"run-{os.getpid()}")
    # before the library import: session.py reads SPARK_GRAFT_CPUS then
    cpus = _pin_environment(tmp)

    import numpy as np

    import computer_vision_foundations_spark  # noqa: F401  fail fast
    from tracing import RssSampler, Tracer
    from workloads import WORKLOADS

    shutil.rmtree(tmp, ignore_errors=True)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(tmp, sub))

    rss = RssSampler().start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_session(tmp, cpus, bool(args.trace))
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=bool(args.trace))
        rng = np.random.default_rng(args.seed)
        wl = WORKLOADS[args.workload](spark, tracer, rng)

        t = time.perf_counter()
        wl.prepare(os.path.join(tmp, "work"))
        prepare_s = time.perf_counter() - t

        attempted = failed = 0
        failures: list[str] = []
        probes: list[float] = []

        def one_round(r: int, traced: bool, warm: bool):
            """One round; a call that raises or a check that fails
            counts as a failed operation."""
            nonlocal attempted, failed
            tracer.enabled = traced
            tracer.round_id = r
            spark.catalog.clearCache()
            calls = wl.calls
            probes.append(_host_probe())
            rss.reset()
            try:
                with tracer.span("round"):
                    res = wl.round(r, warm)
            except Exception:
                # the table/stream state is unknown now: stop the run
                attempted += wl.calls - calls
                failed += 1
                failures.append(f"round {r}: {traceback.format_exc()}")
                print(f"# round {r} raised:\n{failures[-1]}", file=sys.stderr)
                return None
            res.traced = traced
            res.peak_rss_mb, res.peak_procs = rss.reset()
            attempted += wl.calls - calls + len(res.checks)
            for name, ok in res.checks:
                if not ok:
                    failed += 1
                    failures.append(f"round {r}: {name}")
            return res

        # Round 0, the cold round, is discarded; the timed phase is the
        # same rounds in every run (see README). storage_amp is read after
        # the last round every run reaches, so the figure does not depend
        # on speed.
        warmup = WARMUP_ROUNDS
        storage_round = warmup + TIMED_ROUNDS - 1
        done: list = []  # (result, start time)
        t_warm = time.perf_counter()
        plan = TRACE_PLAN if args.trace else (False,) * TIMED_ROUNDS
        r, storage_amp = 0, None
        while not failures:
            i = r - warmup  # index among the timed rounds
            if (
                i >= len(plan)
                and time.perf_counter() - done[warmup][1] >= args.seconds
            ):
                break
            traced = 0 <= i < len(plan) and plan[i]
            t_round = time.perf_counter()
            res = one_round(r, traced, r < warmup)
            if res is None:
                break
            done.append((res, t_round))
            if r == storage_round:
                written, payload = wl.storage()
                storage_amp = written / payload
            r += 1
        warm_s = (
            done[warmup][1] if len(done) > warmup else time.perf_counter()
        ) - t_warm
        timed = [x for x, _ in done[warmup:]]
        rounds = [x for x in timed if not x.traced]
        traced_rounds = [x for x in timed if x.traced]

        final = wl.finish() if not failures else []
        attempted += len(final)
        for name, ok in final:
            if not ok:
                failed += 1
                failures.append(f"end of run: {name}")

        def ips(rs):
            secs = sum(x.write_s + x.read_s for x in rs)
            return sum(x.items for x in rs) / secs if secs else 0.0

        def median(vals):
            vals = list(vals)
            return statistics.median(vals) if vals else 0.0

        metrics: dict[str, float] = {}
        if not args.trace:
            metrics = {
                "items_per_s": ips(rounds),
                "write_s": median(x.write_s for x in rounds),
                "read_s": median(x.read_s for x in rounds),
                "storage_amp": storage_amp or 0.0,
                "peak_rss_mb": median(x.peak_rss_mb for x in rounds),
                "setup_s": session_s + prepare_s + warm_s,
            }
        else:
            for spec in config["per_layer"]:
                vals = [x.layer.get(spec["name"]) for x in traced_rounds]
                metrics[spec["name"]] = median(v for v in vals if v is not None)
            for key, vals in _round_counters(tracer).items():
                metrics[key] = median(vals)
            base = ips(rounds)
            metrics["trace.overhead_frac"] = 1.0 - ips(traced_rounds) / base if base else 0.0
            os.makedirs(os.path.join(REPO, ".perfbench", "traces"), exist_ok=True)
            tracer.dump(
                os.path.join(
                    REPO, ".perfbench", "traces",
                    f"{args.workload}-seed{args.seed}.json",
                )
            )

        # diagnostics
        print(
            f"# {args.workload}: session {session_s:.2f}s, prepare "
            f"{prepare_s:.2f}s, warm-up {warmup} rounds "
            f"{warm_s:.2f}s, timed rounds {len(rounds)}"
            + (f" (+{len(traced_rounds)} traced)" if args.trace else "")
        )
        by_name: dict[str, list[float]] = {}
        for s in tracer.spans:
            if s.round_id >= warmup:
                by_name.setdefault(s.name, []).append(s.wall)
        for name, walls in sorted(by_name.items()):
            print(f"#   latency {name}: {_tail(walls)}")
        print(
            "#   warm-up spans s: "
            + " ".join(
                f"{s.name}={s.wall:.2f}"
                for s in tracer.spans
                if s.round_id < warmup and s.name not in ("round", "read", "write")
            )
        )
        print(
            "#   round s (write+read): "
            + " ".join(f"{x.write_s + x.read_s:.2f}" for x, _ in done)
        )
        if any(x.parts for x, _ in done):
            print(
                "#   round s by part (write/read): "
                + "; ".join(
                    " ".join(f"{n} {w:.2f}/{rd:.2f}" for n, (w, rd) in x.parts.items())
                    for x, _ in done
                )
            )
        print(
            "#   host probe s per round: "
            + " ".join(f"{p:.4f}" for p in probes)
        )
        print(
            "#   round peak memory MB (process split): "
            + "; ".join(
                f"{x.peak_rss_mb:.0f} ({' '.join(f'{v:.0f}' for v in sorted(x.peak_procs.values(), reverse=True))})"
                for x, _ in done
            )
        )
        for f in failures:
            print(f"# FAILED {f}")
        units = {m["name"]: m["unit"] for m in config["end_to_end"] + config["per_layer"]}
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                k: {"value": v, "unit": units.get(k, "")} for k, v in metrics.items()
            },
        }
    finally:
        rss.stop()
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)


def _round_counters(tracer) -> dict[str, list[float]]:
    """Per traced round: the sum of each Spark counter over its leaf spans."""
    from tracing import STAGE_COUNTERS

    keys = STAGE_COUNTERS + ("driver.construct_s",)
    per: dict[int, dict[str, float]] = {}
    for s in tracer.spans:
        if not s.counters:
            continue
        acc = per.setdefault(s.round_id, dict.fromkeys(keys, 0.0))
        for k in keys:
            acc[k] += s.counters.get(k, 0.0)
    return {k: [acc[k] for acc in per.values()] for k in keys}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds is None:
        with open(CONFIG) as f:
            args.seconds = json.load(f)["run_seconds"]
    if args.workload == "all":
        return _run_all(args)
    print(json.dumps(run(args)), flush=True)
    return 0


def _run_all(args) -> int:
    """Every workload, each in its own process and session; prints each
    result, then one combined line with workload-prefixed metrics."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in ("image_ingest", "near_dup_search", "table_mutations"):
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True)
        print(out.stdout, end="", flush=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = v
    print(json.dumps(combined), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
