"""Benchmark of the quantms tools through the package's public functions.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s>

One run makes its inputs from the seed inside ``.perfbench_work/`` of the
checkout, starts one Spark session, runs the workload once cold and then
repeatedly for ``--seconds``, checks every output against an oracle, and
prints one JSON line last: ``correct``, ``attempted``, ``failed`` and the
``metrics`` BENCHMARK.json lists for the mode (end-to-end with ``--trace 0``,
per-layer with ``--trace 1``). A copy of that result, the host's load and
CPU count, the seed and every sample go to ``.perfbench_out/``. ``--workload
all`` runs every workload untraced and prints a table of the end-to-end
metrics plus ``error_rate``.

See perfbench/README.md for what each workload and metric is for.
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

import numpy as np

import spark_env
from measure import (NullTracer, RssSampler, Tracer, descendants,
                     event_log_counters, steal_s, tree_cpu_s)

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
JOB_GROUP = "perfbench-traced"
# steady iterations per run at the least, whatever --seconds says; one
# iteration of the slower workloads outlasts a short --seconds
MIN_STEADY = 1
# untimed iterations between the cold one and the steady ones: the JIT is
# still compiling hot paths for a few iterations after the first
WARMUP = 1
MAX_FAILED = 3


def _spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _import_package() -> None:
    """Put the checkout's package first on the path and refuse any other copy."""
    if not (ROOT / "quantms_utils_spark" / "__init__.py").is_file():
        raise SystemExit(f"no quantms_utils_spark package next to {HERE.name}/")
    sys.path.insert(0, str(ROOT))


def _wait_children(timeout: float = 30.0) -> None:
    """Wait until every process this run started has ended."""
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()):
        if time.monotonic() > deadline:
            for pid in descendants(os.getpid()):
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


class Loop:
    """Runs the workload job and its output check, one iteration at a time."""

    def __init__(self, wl, spark, inp, work: Path) -> None:
        self.wl, self.spark, self.inp, self.work = wl, spark, inp, work
        self.attempted = self.failed = 0
        self.state: dict = {}
        self.facts: dict = {}
        self.last_out: Path | None = None
        self.errors: list[str] = []

    def once(self, tracer=None) -> tuple[float, float, float] | None:
        """(wall seconds, JVM+worker CPU seconds, share of the guest's CPU
        time stolen by other guests), or None if it failed."""
        out = self.work / "out" / f"iter{self.attempted:04d}"
        self.attempted += 1
        tracer = tracer or NullTracer()
        try:
            cpu0, steal0 = tree_cpu_s(os.getpid()), steal_s()
            t0 = time.perf_counter()
            with tracer.span(f"{self.wl.name}.iteration"):
                self.wl.run(self.spark, self.inp, out, tracer)
            wall = time.perf_counter() - t0
            cpu = tree_cpu_s(os.getpid()) - cpu0
            stolen = (steal_s() - steal0) / (wall * os.cpu_count())
            self.facts.update(self.wl.check(self.inp, out, self.state))
        except Exception:  # a failed iteration counts toward error_rate
            self.failed += 1
            self.errors.append(traceback.format_exc())
            print(self.errors[-1], file=sys.stderr)
            return None
        finally:
            if self.last_out is not None:
                shutil.rmtree(self.last_out, ignore_errors=True)
            self.last_out = out
        return wall, cpu, stolen

    def steady(self, seconds: float) -> list[tuple[float, float, float]]:
        """Iterate until ``seconds`` have passed and at least MIN_STEADY
        iterations succeeded; returns their samples."""
        samples = []
        end = time.monotonic() + seconds
        while time.monotonic() < end or len(samples) < MIN_STEADY:
            got = self.once()
            if got is not None:
                samples.append(got)
            elif self.failed > MAX_FAILED:
                break
        return samples

    def paired(self, seconds: float, tracer) -> tuple[list, list]:
        """Alternate untraced and traced iterations until ``seconds`` have
        passed, at least one pair; returns both sides' wall times."""
        plain, traced = [], []
        end = time.monotonic() + seconds
        while time.monotonic() < end or not (plain and traced):
            got = self.once()
            if got is not None:
                plain.append(got[0])
            got = self.once(tracer)
            if got is not None:
                traced.append(got[0])
            if self.failed > MAX_FAILED:
                break
        return plain, traced


def _out_bytes(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


def run_one(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    from workloads import WORKLOADS

    wl = WORKLOADS[workload]
    work = ROOT / ".perfbench_work" / f"{workload}-s{seed}-t{int(traced)}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    host = {"nproc": len(os.sched_getaffinity(0)), "cores_used": spark_env.cores(),
            "seed": seed, "workload": workload, "trace": int(traced),
            "seconds": seconds, "load1_before": os.getloadavg()[0]}
    steal0 = steal_s()
    spark = None
    try:
        spark_env.prepare_env(work)
        events = work / "events" if traced else None
        spark, setup = spark_env.start(work, events)
        (work / "in").mkdir()
        inp = wl.generate(np.random.default_rng(seed), work / "in", traced)
        loop = Loop(wl, spark, inp, work)
        with RssSampler(os.getpid()) as rss:
            cold = loop.once()
            if cold is None:
                raise RuntimeError(f"{workload}: the first iteration failed\n"
                                   + loop.errors[-1])
            # a traced run must stay well inside the time limit of one run
            for _ in range(0 if traced else WARMUP):
                loop.once()
            if traced:
                samples = []
                tracer = Tracer()
                spark.sparkContext.setJobGroup(JOB_GROUP, "traced iterations")
                walls, t_walls = loop.paired(seconds, tracer)
                spark.sparkContext.setJobGroup("perfbench-layers", "layers")
                layer_facts = wl.layers(spark, inp, work, tracer)
            else:
                samples = loop.steady(seconds)
                walls, cpus = [x[0] for x in samples], [x[1] for x in samples]
        if not walls:
            raise RuntimeError(f"{workload}: no steady iteration succeeded\n"
                               + loop.errors[-1])
        out_bytes, out_files = _out_bytes(loop.last_out)
        wall = statistics.median(walls)
        record = {
            "correct": loop.failed == 0,
            "attempted": loop.attempted,
            "failed": loop.failed,
        }
        if not traced:
            metrics = {
                "setup_s": setup,
                "cold_wall_s": cold[0],
                "wall_s": wall,
                "records_per_s": inp.records / wall,
                "cpu_s": statistics.median(cpus),
                "peak_rss_mb": rss.peak_mb,
                "out_bytes_per_in_byte": out_bytes / inp.in_bytes,
            }
        else:
            spark_env.stop(spark)
            spark = None
            metrics = per_layer_metrics(wl, tracer, layer_facts, loop, wall,
                                        t_walls, events, out_bytes, out_files)
            tracer.write(ROOT / ".perfbench_out" /
                         f"spans-{workload}-s{seed}.json")
        host.update(load1_after=os.getloadavg()[0], steal_s=steal_s() - steal0,
                    steady_samples=[dict(zip(("wall_s", "cpu_s", "steal_share"), x))
                                    for x in samples],
                    wall_samples=walls, setup_s=setup,
                    records=inp.records, record_kind=wl.record_kind,
                    in_bytes=inp.in_bytes, errors=loop.errors)
        return {**record, "metrics": metrics, "host": host}
    finally:
        try:
            if spark is not None:
                spark_env.stop(spark)
        finally:
            _wait_children()
            shutil.rmtree(work, ignore_errors=True)


def per_layer_metrics(wl, tracer, facts, loop, wall, t_walls, events,
                      out_bytes, out_files) -> dict:
    names = [m["name"] for m in _spec()["per_layer"]]
    spans = {s["name"] for s in tracer.spans}
    timed = {n: tracer.duration(n) for n in names if n in spans}
    isolated = sum(timed[n] for n in wl.JOB_LAYERS)
    m = {
        **timed, **facts, **loop.facts,
        **event_log_counters(events, JOB_GROUP),
        "sinks.bytes_written": out_bytes,
        "sinks.files_written": out_files,
        "recompute_ratio": wall / isolated,
        "trace.untraced_wall_s": wall,
        "trace.traced_wall_s": statistics.median(t_walls),
        "trace.overhead_s": statistics.median(t_walls) - wall,
        "error_rate": loop.failed / loop.attempted,
    }
    # the engine counters are totals over the traced iterations
    for k in list(m):
        if k.startswith("spark."):
            m[k] = m[k] / len(t_walls)
    unknown = set(m) - set(names)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    # layers this workload does not call did no work on it
    return {n: m.get(n, 0) for n in names}


def _result_line(res: dict, traced: bool) -> str:
    spec = _spec()
    units = {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}
    metrics = {n: {"value": float(res["metrics"][n]), "unit": u}
               for n, u in units.items()}
    return json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                       "failed": res["failed"], "metrics": metrics})


def _save(res: dict, line: str) -> None:
    h = res["host"]
    out = ROOT / ".perfbench_out"
    out.mkdir(exist_ok=True)
    name = f"result-{h['workload']}-s{h['seed']}-t{h['trace']}.json"
    (out / name).write_text(json.dumps({"result": json.loads(line), **h}, indent=1))
    print(f"host: nproc={h['nproc']} cores={h['cores_used']} seed={h['seed']} "
          f"load1 {h['load1_before']:.2f} -> {h['load1_after']:.2f}; "
          f"steal {h['steal_s']:.1f} s; "
          f"{len(h['wall_samples'])} steady samples", file=sys.stderr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _import_package()
    from workloads import WORKLOADS

    if args.workload == "all":
        rows = []
        for name in WORKLOADS:
            res = run_one(name, args.seed, args.seconds, False)
            _save(res, _result_line(res, False))
            rows.append((name, res))
        units = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
        for name, res in rows:
            print(f"{name}:")
            for k, u in units.items():
                print(f"  {k:<24} {res['metrics'][k]:>14.6g} {u}")
            print(f"  {'error_rate':<24} {res['failed'] / res['attempted']:>14.6g} "
                  f"ratio ({res['failed']}/{res['attempted']})")
        return 0 if all(r["correct"] for _, r in rows) else 1
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    res = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    line = _result_line(res, bool(args.trace))
    _save(res, line)
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
