"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

Run from the repository root. The run starts one Spark session on
``local[4]`` with a 3 GiB driver heap and the UI off, builds the
workload's inputs from ``--seed``, computes the reference outputs, warms
every operator family the workload uses (all of this is ``setup_s``),
then repeats the workload until ``--seconds`` have passed, checking
every output. Scratch, checkpoint and input directories live under
``.perfbench/work`` and are wiped first.

With ``--trace 0`` the last stdout line holds the end-to-end metrics of
BENCHMARK.json. With ``--trace 1`` the run measures the workload once
untraced, once traced and once untraced again, and the last line holds
the per-layer metrics, including the traced run's end-to-end numbers
minus those of the untraced runs around it (``trace.overhead.*``); spans and the full record go to
``.perfbench/out``. Lines before the last one print the end-to-end
metrics under the names the workloads define (``crawl_urls_per_s``, ...)
and the 1-minute load average at the start and end. The exit code is 1
when an output check failed and 2 when the engine is not present.
"""

from __future__ import annotations

import time

PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4
DRIVER_MEM = "3g"


class Ops:
    """Counts operations (steps and output checks) and failures; steps
    may run on several threads."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self._lock = threading.Lock()

    def _count(self, failed: bool) -> None:
        with self._lock:
            self.attempted += 1
            self.failed += failed

    def step(self, fn, what: str):
        """Run one step; a raised step counts as failed and returns None."""
        try:
            out = fn()
        except Exception:
            self._count(True)
            print(f"# step failed: {what}", file=sys.stderr)
            traceback.print_exc()
            return None
        self._count(False)
        return out

    def check(self, ok: bool, what: str) -> bool:
        self._count(not ok)
        if not ok:
            print(f"# check failed: {what}", file=sys.stderr)
        return ok


def _fit_environment(work: str) -> dict[str, str]:
    """Keep every file Spark, the JVM and the Python workers write inside
    the work directory; returns the session settings."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ.update({
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(CPUS),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        # both JVMs spark-submit starts (launcher and driver) would keep
        # their perf counters in the system temp directory
        "JAVA_TOOL_OPTIONS": " ".join(
            p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p
        ),
    })
    return {
        "spark.ui.enabled": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100",
    }


def _peak_rss_mb(jvm_pid: int) -> float:
    kb = 0
    for pid in (jvm_pid, os.getpid()):
        with open(f"/proc/{pid}/status") as f:
            kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


def _measure(wl, seconds: float, tracer, ops) -> list[dict]:
    obs: list[dict] = []
    start = time.monotonic()
    i = 0
    while i < 1 or time.monotonic() - start < seconds:
        tracer.trace_id = f"{wl.name}-{i}"
        o = wl.iterate(tracer, ops)
        if o is not None:
            obs.append(o)
        i += 1
    return obs


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def _metrics(values: dict[str, float], units: dict[str, str]) -> dict:
    unknown = sorted(set(values) - set(units))
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {unknown}")
    # a layer the workload does not exercise did no work: report 0
    return {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in units.items()}


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["crawl", "headline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    missing = [p for p in ("tbbid_scrapy_spark", "bench.py", "__spark_entry__.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    declared = _declared()

    base = os.path.join(ROOT, ".perfbench")
    work, out_dir = os.path.join(base, "work"), os.path.join(base, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    conf = _fit_environment(work)
    sys.path.insert(0, ROOT)

    load = [os.getloadavg()[0]]
    from concurrent.futures import ThreadPoolExecutor

    from perfbench import stats
    from perfbench.crawl import Crawl
    from perfbench.headline import Headline
    from perfbench.trace import StatusStore, Tracer
    from tbbid_scrapy_spark.session import get_spark

    def start_session():
        t = time.monotonic()
        spark = get_spark(app_name="perfbench", cpus=CPUS, shuffle_partitions=CPUS,
                          extra_conf=conf)
        return spark, time.monotonic() - t

    wl = {"crawl": Crawl, "headline": Headline}[args.workload](work, args.seed)
    # the JVM starts while the inputs and the reference outputs are built
    with ThreadPoolExecutor(1) as pool:
        session = pool.submit(start_session)
        t = time.monotonic()
        try:
            wl.make_inputs()
            inputs_s = time.monotonic() - t
        except BaseException:
            _stop(session.result()[0])
            raise
        spark, get_spark_s = session.result()
    try:
        ops = Ops()
        t = time.monotonic()
        wl.load(spark)
        wl.warm_up(ops)
        warmup_s = time.monotonic() - t
        setup_s = time.monotonic() - PROCESS_START

        obs = _measure(wl, args.seconds, Tracer(False), ops)
        layer_values: dict[str, float] = {}
        if args.trace and obs:
            store = StatusStore(spark)
            tracer = Tracer(True)
            wl.instrument(tracer)
            mark = store.mark()
            try:
                traced = _measure(wl, args.seconds, tracer, ops)
            finally:
                tracer.unwrap_all()
            stages, jobs = store.since(mark)
            # untraced again: the untraced iterations bracket the traced
            # ones, so a steady drift of the JIT's warm-up cancels out of
            # the overhead instead of counting as a gain from tracing
            obs += _measure(wl, args.seconds, Tracer(False), ops)
            if traced:
                layer_values.update(wl.layers(traced, tracer, stages, jobs))
                plain, with_trace = wl.end_to_end(obs), wl.end_to_end(traced)
                for k in plain:
                    layer_values[f"trace.e2e.{k}"] = with_trace[k]
                    layer_values[f"trace.overhead.{k}"] = with_trace[k] - plain[k]
            tracer.dump(os.path.join(out_dir, f"spans-{wl.name}-{args.seed}.jsonl"))
            obs = obs if traced else []
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = _peak_rss_mb(jvm_pid)
    finally:
        _stop(spark)
    load.append(os.getloadavg()[0])

    correct = ops.failed == 0 and bool(obs)
    failed_frac = stats.failure_share(ops.failed, ops.attempted)
    print(f"# loadavg_1min start={load[0]:.2f} end={load[1]:.2f}")
    print(f"# setup: get_spark_s={get_spark_s:.2f} inputs_s={inputs_s:.2f} "
          f"warmup_s={warmup_s:.2f} iterations={len(obs)}")
    print(f"# ops attempted={ops.attempted} failed={ops.failed} "
          f"ops_failed_frac={failed_frac:.6f}")
    if not obs:
        metrics = {}
    elif args.trace:
        layer_values.update({
            "session.get_spark_s": get_spark_s,
            "session.inputs_s": inputs_s,
            "session.warmup_s": warmup_s,
            "bench.ops_failed_frac": failed_frac,
        })
        metrics = _metrics(layer_values, declared["per_layer"])
        with open(os.path.join(out_dir, f"trace-{wl.name}-{args.seed}.json"), "w") as f:
            json.dump({"workload": wl.name, "seed": args.seed, "loadavg_1min": load,
                       "metrics": metrics}, f, indent=1)
    else:
        e2e = {"setup_s": setup_s, "peak_rss_mb": peak_rss_mb, **wl.end_to_end(obs)}
        metrics = _metrics(e2e, declared["end_to_end"])
        for name, (value, unit) in wl.named(obs).items():
            print(f"# {name} {value:.6g} {unit}")
    for name, m in metrics.items():
        print(f"# {name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": ops.attempted,
                      "failed": ops.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
