"""Repository benchmark: one workload per run, outputs checked against
the DuckDB oracles, one JSON result line at the end of stdout.

Usage, from the repository root:

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 20 --trace 0

Workloads, their ops and the layer (package module) each op is
attributed to are listed in ``perfbench/workloads.json``. Every run
starts from an empty build-once cache, checkpoint store and warehouse
under ``perfbench/.work``, so set-up always pays the same cold builds.
The seed fixes the order of ops in each pass and each serving client's
sequence of reads; the input tables are the fixture in
``perfbench/data``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
same schedule with a span around every op call and Spark counters read
from the status store, reports the per-layer metrics and writes the
spans to ``perfbench/out/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up time counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

from oracle import Oracle, Output  # noqa: E402  (perfbench/ is sys.path[0])
from tracing import STAGE_COUNTERS, Tracer  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "batch_processing_etl_orchestration_spark"
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")

# After a cold pass, warm-up runs whole passes (or serving rounds)
# until one is within STEADY of the one before, between MIN_WARM and
# MAX_WARM of them.
MIN_WARM, MAX_WARM, STEADY = 2, 4, 0.10
# A run that is still going after this many seconds kills Spark and
# exits non-zero rather than overrun its time limit.
WATCHDOG_S = 170.0


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_work_dir() -> str:
    """Empty the run's state directory and copy the inputs into it."""
    shutil.rmtree(WORK, ignore_errors=True)
    data = os.path.join(WORK, "data")
    shutil.copytree(os.path.join(HERE, "data"), data)
    for d in ("cache", "checkpoints", "warehouse", "spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d))
    return data


def redirect_state() -> None:
    """Point every place the package writes state at the work dir and
    make the package importable by Spark's Python workers."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    sys.path.insert(0, ROOT)
    from batch_processing_etl_orchestration_spark import tables
    from batch_processing_etl_orchestration_spark.streaming import events, sink

    package_cache_dir = tables.fixture_cache_dir

    def cache_dir(sf_dir, fixture_file, name, layout=1):
        tag = os.path.basename(package_cache_dir(sf_dir, fixture_file, name, layout))
        return os.path.join(WORK, "cache", name, tag)

    tables.fixture_cache_dir = cache_dir
    events._CHECKPOINT_ROOT = sink._CHECKPOINT_ROOT = os.path.join(WORK, "checkpoints")


def start_spark(cores: int):
    from batch_processing_etl_orchestration_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.sql.shuffle.partitions": str(cores),
            "spark.driver.memory": "3g",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def start_watchdog(spark) -> threading.Timer:
    def fire():
        print(f"perfbench: run exceeded {WATCHDOG_S:.0f} s, aborting", file=sys.stderr)
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait()
        os._exit(3)

    timer = threading.Timer(WATCHDOG_S - (time.perf_counter() - T0), fire)
    timer.daemon = True
    timer.start()
    return timer


class Sample:
    """One op call: its latency, and its output until the oracle check
    has looked at it."""

    __slots__ = ("op", "layer", "latency_s", "output", "error", "span")

    def __init__(self, op, layer):
        self.op, self.layer = op, layer
        self.latency_s = 0.0
        self.output = None
        self.error = None
        self.span = None


class Runner:
    """Calls registered queries, records every call, and optionally
    traces them."""

    def __init__(self, spark, data_dir: str, tracer):
        from batch_processing_etl_orchestration_spark.plans.registry import QUERIES

        self.spark, self.data_dir, self.tracer = spark, data_dir, tracer
        self.queries = QUERIES
        self.warm: list[Sample] = []
        self.measured: list[Sample] = []
        self._lock = threading.Lock()

    def call(self, op: str, layer: str, client: int, concurrent: bool, measured: bool) -> None:
        s = Sample(op, layer)
        span = self.tracer.begin(op, layer, client, concurrent) if self.tracer else None
        t = time.perf_counter()
        try:
            df = self.queries[op].fn(self.spark, self.data_dir)
            rows = df.collect()
            s.latency_s = time.perf_counter() - t
            s.output = (df.columns, rows)
        except Exception as e:  # an op that raises is a failed op, not a crash
            s.latency_s = time.perf_counter() - t
            s.error = f"{type(e).__name__}: {str(e)[:500]}"
        if span is not None:
            self.tracer.end(span, s.error is None)
            s.span = span
        with self._lock:
            (self.measured if measured else self.warm).append(s)

    def check(self, oracle: Oracle) -> None:
        """Compare every call's output with its oracle, each distinct
        output once; a mismatch becomes the call's error."""
        seen: dict[tuple[str, str], str | None] = {}
        for s in self.warm + self.measured:
            if s.output is None:
                continue
            out = Output(list(s.output[0]), [tuple(r) for r in s.output[1]])
            s.output = None
            key = (s.op, out.digest)
            if key not in seen:
                seen[key] = oracle.mismatch(s.op, self.queries[s.op].oracle, out)
            if seen[key]:
                s.error = f"oracle mismatch: {seen[key]}"


def cold_pass(runner: Runner, ops: list, threads: int) -> float:
    """Call every op once, spread over ``threads`` threads, so the
    one-off costs (cold index and view builds, class loading, JIT,
    Python worker start) overlap instead of adding up."""
    t = time.perf_counter()
    with ThreadPoolExecutor(threads) as pool:
        futures = [pool.submit(runner.call, op, layer, i % threads, True, False)
                   for i, (op, layer) in enumerate(ops)]
        for f in futures:
            f.result()
    return time.perf_counter() - t


def warm_up(run_once) -> list[float]:
    """Repeat ``run_once`` until a run is within STEADY of the one
    before it, at least MIN_WARM and at most MAX_WARM times."""
    times: list[float] = []
    while len(times) < MAX_WARM and not (
        len(times) >= MIN_WARM and abs(times[-1] - times[-2]) <= STEADY * times[-2]
    ):
        t = time.perf_counter()
        run_once()
        times.append(time.perf_counter() - t)
    return times


def run_batch(runner: Runner, ops: list, seed: int, seconds: float, cores: int) -> dict:
    """One closed-loop client running whole passes, each in an order
    drawn from the seed. A pass starts only if the median warm pass
    still fits in the window, so the window is never overrun (but at
    least one pass runs)."""
    rng = random.Random(seed)

    def one_pass(measured: bool) -> float:
        t = time.perf_counter()
        for op, layer in rng.sample(ops, len(ops)):
            runner.call(op, layer, 0, False, measured)
        return time.perf_counter() - t

    warm = [cold_pass(runner, ops, cores)]
    warm += warm_up(lambda: one_pass(False))
    setup_s = time.perf_counter() - T0
    expected = statistics.median(warm[1:])
    passes: list[float] = []
    start = time.perf_counter()
    while not passes or time.perf_counter() - start + expected <= seconds:
        passes.append(one_pass(True))
    wall = time.perf_counter() - start
    return {"setup_s": setup_s, "warm": warm, "passes": passes, "wall_s": wall}


def run_serve(runner: Runner, ops: list, seed: int, seconds: float, clients: int) -> dict:
    """``clients`` closed-loop threads, each cycling through
    permutations of the read mix drawn from the seed and its index. A
    warm-up round has every client run the mix once."""

    def client_loop(cid: int, deadline: float | None, measured: bool) -> None:
        rng = random.Random(seed * 1_000_003 + cid)
        while True:
            for op, layer in rng.sample(ops, len(ops)):
                if deadline is not None and time.perf_counter() >= deadline:
                    return
                runner.call(op, layer, cid, True, measured)
            if deadline is None:
                return

    def run_clients(deadline: float | None, measured: bool) -> None:
        with ThreadPoolExecutor(clients) as pool:
            futures = [pool.submit(client_loop, c, deadline, measured) for c in range(clients)]
            for f in futures:
                f.result()

    warm = [cold_pass(runner, ops, clients)]
    warm += warm_up(lambda: run_clients(None, False))
    setup_s = time.perf_counter() - T0
    start = time.perf_counter()
    run_clients(start + seconds, True)
    wall = time.perf_counter() - start
    return {"setup_s": setup_s, "warm": warm, "wall_s": wall}


def end_to_end(res: dict, runner: Runner, n_ops: int) -> dict:
    """A request is what its user waits for: one whole pass of a batch
    workload, one read of the serving workload. ``qps`` counts op calls
    in both, and ``pass_s`` is the time to cover the op mix once."""
    qps = len(runner.measured) / res["wall_s"]
    if "passes" in res:
        requests = res["passes"]
        pass_s = statistics.median(requests)
    else:
        requests = [s.latency_s for s in runner.measured]
        pass_s = n_ops / qps
    pct = (statistics.quantiles(requests, n=10, method="inclusive")
           if len(requests) > 1 else requests * 9)
    return {
        "setup_s": (res["setup_s"], "s"),
        "pass_s": (pass_s, "s"),
        "qps": (qps, "ops/s"),
        "latency_p50_ms": (pct[4] * 1e3, "ms"),
        "latency_p90_ms": (pct[8] * 1e3, "ms"),
    }


def per_layer(res: dict, runner: Runner, tracer: Tracer, layers: list[str], n_ops: int,
              session_s: float, cores: int) -> dict:
    from batch_processing_etl_orchestration_spark.tables import BUILD_ONCE_STATS

    # Sums are per pass: the measured totals divided by the number of
    # times the whole op mix ran, so they compare across runs of
    # different length.
    passes = len(runner.measured) / n_ops
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (session_s, "s"),
        "tables.build_s": (
            sum(v.get("build_s", 0.0) for v in BUILD_ONCE_STATS.values()), "s"
        ),
        "tables.cold_families": (
            sum(v["state"] == "cold" for v in BUILD_ONCE_STATS.values()), "count"
        ),
    }
    units = {"wall_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
             "executor_cpu_s": "s", "gc_s": "s", "input_mb": "MB",
             "shuffle_write_mb": "MB", "output_mb": "MB", "spill_mb": "MB"}
    sums = {(layer, k): 0.0 for layer in layers for k in units}
    fails = {layer: 0 for layer in layers}
    run_s = 0.0
    for s in runner.measured:
        sp = s.span
        sums[(s.layer, "wall_s")] += sp.end - sp.start
        sums[(s.layer, "driver_s")] += sp.driver_s()
        sums[(s.layer, "jobs")] += sp.jobs
        sums[(s.layer, "tasks")] += sp.tasks
        for k in units.keys() & STAGE_COUNTERS.keys():
            sums[(s.layer, k)] += sp.counters.get(k, 0.0)
        run_s += sp.counters.get("executor_run_s", 0.0)
        fails[s.layer] += s.error is not None
    for layer in layers:
        for k, unit in units.items():
            m[f"{layer}.{k}"] = (sums[(layer, k)] / passes, unit)
        m[f"{layer}.failed"] = (fails[layer], "count")
    m["core_util"] = (run_s / (res["wall_s"] * cores), "ratio")
    m["trace.overhead_s"] = (tracer.overhead_s / (len(runner.measured) + len(runner.warm)) * n_ops, "s")
    return m


def write_trace(workload: str, seed: int, tracer, runner: Runner, metrics: dict) -> str:
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"trace-{workload}-seed{seed}.json")
    measured = {id(s.span) for s in runner.measured}
    with open(path, "w") as f:
        json.dump(
            {
                "workload": workload,
                "seed": seed,
                "metrics": {k: v for k, (v, _) in metrics.items()},
                "spans": [
                    dict(sp.to_json(T0), measured=id(sp) in measured)
                    for sp in tracer.spans
                ],
            },
            f,
            indent=1,
        )
    return path


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = spec["workloads"][args.workload]
    ops = [tuple(o) for o in wl["ops"]]
    cores = len(os.sched_getaffinity(0))
    clients = max(1, cores // 2) if wl["clients"] == "nproc/2" else int(wl["clients"])

    data_dir = prepare_work_dir()
    redirect_state()

    t = time.perf_counter()
    spark = start_spark(cores)
    session_s = time.perf_counter() - t
    watchdog = start_watchdog(spark)
    try:
        tracer = Tracer(spark) if args.trace else None
        runner = Runner(spark, data_dir, tracer)
        if clients == 1:
            res = run_batch(runner, ops, args.seed, args.seconds, cores)
        else:
            res = run_serve(runner, ops, args.seed, args.seconds, clients)
        # Oracle check, outside every timed region.
        oracle = Oracle(data_dir)
        try:
            runner.check(oracle)
        finally:
            oracle.close()
        timings = end_to_end(res, runner, len(ops))
        if args.trace:
            metrics = per_layer(res, runner, tracer, spec["layers"], len(ops), session_s, cores)
        else:
            metrics = timings
    finally:
        stop_spark(spark)
        watchdog.cancel()

    from batch_processing_etl_orchestration_spark.tables import BUILD_ONCE_STATS

    attempted = len(runner.measured)
    failed = sum(s.error is not None for s in runner.measured)
    warm_failed = sum(s.error is not None for s in runner.warm)
    errors: dict[tuple[str, str], int] = {}
    for s in runner.warm + runner.measured:
        if s.error:
            errors[(s.op, s.error)] = errors.get((s.op, s.error), 0) + 1
    for (op, err), n in sorted(errors.items()):
        print(f"FAILED {op} x{n}: {err}")
    print(f"workload={args.workload} seed={args.seed} cores={cores} clients={clients} "
          f"ops={len(ops)} attempted={attempted} failed={failed} "
          f"fail_frac={failed / max(attempted, 1):.4f} warm_failed={warm_failed}")
    print("warm-up (s): " + " ".join(f"{w:.2f}" for w in res["warm"]))
    if "passes" in res:
        print(f"passes={len(res['passes'])} (s): " + " ".join(f"{p:.2f}" for p in res["passes"]))
    print("build_once: " + json.dumps(BUILD_ONCE_STATS, sort_keys=True))
    for k, (v, unit) in metrics.items():
        print(f"  {k} = {v:.6g} {unit}")
    if args.trace:
        # End-to-end figures of the traced run; their difference from
        # an untraced run's is the tracing overhead.
        for k, (v, unit) in timings.items():
            print(f"  traced {k} = {v:.6g} {unit}")
        print("spans: " + write_trace(args.workload, args.seed, tracer, runner,
                                      {**metrics, **{f"traced.{k}": v for k, v in timings.items()}}))
    print(json.dumps({
        "correct": failed == 0 and warm_failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
