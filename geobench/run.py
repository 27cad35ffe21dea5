"""Benchmark entry point: one workload, one Spark session, one JSON line.

    python3 geobench/run.py --workload headline --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The run

1. generates the seeded inputs and oracle answers (cached per seed under
   ``.geobench/``; not part of any timing);
2. starts one Spark session at ``local[<cores>]`` from this process;
3. warms up: five iterations (``setup_s`` = session start + warm-up);
4. runs iterations one after another (closed loop, one client) for
   ``--seconds`` seconds, checking every leg's result against the oracle;
5. prints the metrics; the last stdout line is the JSON result.

With ``--trace 1`` step 4 runs rounds of one untraced iteration, one traced
iteration (job group, stage and SQL metrics per leg) and one timing of every
layer's prefix plan, and prints the per-layer metrics instead.  Spans and
the raw engine metrics are written to
``.geobench/trace-<workload>-s<seed>.json``.  The layer map is in
``geobench/layers.json``; ``geobench/selftest.py`` checks the checks.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

from procs import KINDS, ProcTree, RssPeak, cpu_steal

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".geobench"
WARMUP_ITERS = 5  # fixed, so measured iterations sit at the same point of the JIT's warm-up
WARMUP_TOL = 0.05  # "settled" when the last two warm-up iterations agree within 5 %
MIN_ITERS = 5
PROBE_REPS = 3  # traced rounds (untraced + traced iteration + every probe), at least
COMPANION_ITERS = 2
UNATTRIBUTED_TOL = 0.15  # |1 - attributed / traced wall| the traced run accepts


def _conf(work: Path) -> dict[str, str]:
    return {
        # below physical RAM (session.get_spark defaults to 48g); a fixed,
        # pre-touched heap keeps the JVM's RSS and GC rate from depending
        # on when the heap happened to grow
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        # the inputs are one small parquet file per table: split by row
        # group so the scan fans out over every core (as bench.py does)
        "spark.sql.files.maxPartitionBytes": "128k",
        "spark.sql.files.openCostInBytes": "16k",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # no hsperfdata file under /tmp: the run writes only in the checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch",
    }


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


class Runner:
    """Closed-loop driver of one workload; counts and checks every leg."""

    def __init__(self, spark, wl, tree):
        self.spark = spark
        self.wl = wl
        self.tree = tree
        self.attempted = 0
        self.failed = 0
        self.iterations: list[dict] = []

    def _leg(self, leg, it: int, spans=None, stores=None) -> dict:
        """Time one call (wall and process-tree CPU), then check its result."""
        self.attempted += 1
        rec: dict = {"leg": leg.name, "wall_s": 0.0, "cpu": dict.fromkeys((*KINDS, "total"), 0.0)}
        try:
            if stores:
                stores.begin(f"it{it}:{leg.name}")
            c0 = self.tree.cpu()
            t0 = time.perf_counter()
            try:
                if spans:
                    with spans.span(leg.name, it):
                        out = leg.call()
                else:
                    out = leg.call()
            finally:
                rec["wall_s"] = time.perf_counter() - t0
                c1 = self.tree.cpu()
                rec["cpu"] = {k: c1[k] - c0[k] for k in c0}
                if stores:
                    rec.update(stores.end())
            ok = bool(leg.check(out))
            if leg.after:
                leg.after()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            self.failed += 1
            print(f"FAILED check: {self.wl.name} iteration {it} {leg.name}", file=sys.stderr)
        return rec

    def iteration(self, it: int, spans=None, stores=None) -> dict:
        """One closed-loop iteration: the legs in order, each timed alone."""
        if spans:
            with spans.span(f"{self.wl.name}.iteration", it):
                legs = [self._leg(leg, it, spans, stores) for leg in self.wl.legs(it)]
        else:
            legs = [self._leg(leg, it) for leg in self.wl.legs(it)]
        rec = {
            "it": it,
            "traced": stores is not None,
            "wall_s": sum(r["wall_s"] for r in legs),
            "cpu": {k: sum(r["cpu"][k] for r in legs) for k in (*KINDS, "total")},
            "legs": legs,
        }
        self.wl.cleanup(it)
        self.spark._jvm.System.gc()  # outside the timed region
        self.iterations.append(rec)
        print(f"iteration {it}{' traced' if stores else ''}: {rec['wall_s']:.3f} s, "
              f"cpu {rec['cpu']['total']:.2f} s (" + ", ".join(
                  f"{r['leg'].rsplit('.', 1)[-1]} {r['wall_s']:.3f}" for r in legs) + ")",
              file=sys.stderr)
        return rec

    def warm_up(self) -> bool:
        """Run the warm-up iterations; True if the last two agreed."""
        walls = [self.iteration(it)["wall_s"] for it in range(WARMUP_ITERS)]
        return abs(walls[-1] - walls[-2]) <= WARMUP_TOL * walls[-2]

    def verify(self) -> None:
        for leg in self.wl.verify():
            self._leg(leg, -1)


def _median_legs(iters: list[dict]) -> dict[str, dict]:
    """leg name -> median of each numeric field over the given iterations."""
    by: dict[str, list[dict]] = {}
    for rec in iters:
        for leg in rec["legs"]:
            by.setdefault(leg["leg"], []).append(leg)
    return {
        name: {k: statistics.median(r.get(k, 0.0) for r in recs)
               for k, v in recs[0].items() if isinstance(v, (int, float))}
        for name, recs in by.items()
    }


def _time_probes(name: str, probes: dict, spans, out: dict[str, list[float]], rep: int) -> None:
    """Time each prefix plan once, appending seconds to ``out[probe]``."""
    with spans.span(f"{name}.probes", rep):
        for probe, fn in probes.items():
            with spans.span(f"probe.{probe}", rep) as s:
                fn()
            out.setdefault(probe, []).append(s["end"] - s["start"])


def _traced_phase(runner: Runner, seconds: float, first_it: int) -> tuple[dict, dict]:
    from tracing import Spans, SparkStores

    spans, stores = Spans(), SparkStores(runner.spark)
    wl = runner.wl
    plain, traced = [], []
    probes = wl.probes()
    probe_t: dict[str, list[float]] = {}
    it = first_it
    t_end = time.perf_counter() + seconds
    # Rounds of (untraced, traced, every probe): the JIT is still warming,
    # so interleaving keeps the three measured at the same point of it.
    while len(traced) < PROBE_REPS or time.perf_counter() < t_end:
        if len(traced) % 2:  # alternate which of the pair goes first
            traced.append(runner.iteration(it, spans, stores))
            plain.append(runner.iteration(it + 1))
        else:
            plain.append(runner.iteration(it))
            traced.append(runner.iteration(it + 1, spans, stores))
        _time_probes(wl.name, probes, spans, probe_t, len(traced))
        it += 2
    p = {k: statistics.median(v) for k, v in probe_t.items()}
    legs = _median_legs(traced)
    layers = wl.layers(p, legs)
    for cls in wl.companions:
        layers.update(_companion(runner, cls, spans, stores, it))

    def med(recs, f):
        return statistics.median(f(r) for r in recs)

    plain_rps = wl.rows / med(plain, lambda r: r["wall_s"])
    traced_wall = med(traced, lambda r: r["wall_s"])
    traced_rps = wl.rows / traced_wall
    attributed = wl.attributed(p, legs)
    for key in ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_mb",
                "shuffle_read_mb", "spill_mb", "tasks"):
        layers[f"spark.{key}"] = med(traced, lambda r: sum(leg[key] for leg in r["legs"]))
    for kind in ("jvm", "py_worker", "driver"):
        layers[f"proc.{kind}_cpu_s"] = med(plain, lambda r: r["cpu"][kind])
    layers["sources.input_mb"] = med(traced, lambda r: sum(leg["input_mb"] for leg in r["legs"]))
    layers["trace.rows_per_s_delta"] = traced_rps - plain_rps
    layers["trace.overhead_frac"] = 1.0 - traced_rps / plain_rps
    layers["trace.unattributed_frac"] = 1.0 - attributed / traced_wall
    detail = {
        "spans": spans.spans,
        "probes_s": probe_t,  # the companions' probes are in the spans
        "legs_median": legs,
        "iterations": runner.iterations,
        "attributed_s": attributed,
        "traced_wall_s": traced_wall,
        "untraced_rows_per_s": plain_rps,
        "traced_rows_per_s": traced_rps,
    }
    return layers, detail


def _companion(runner: Runner, cls, spans, stores, first_it: int) -> dict:
    """Run another workload's legs inside this traced run and keep the
    metrics of the layers only it reaches (``cls.own``).  Its first
    iteration is cold and only warms; the rest are reported."""
    wl = runner.wl
    comp = cls(runner.spark, wl.inp, wl.work, wl.seed)
    sub = Runner(runner.spark, comp, runner.tree)
    recs = [sub.iteration(first_it + k, spans, stores) for k in range(COMPANION_ITERS)]
    runner.attempted += sub.attempted
    runner.failed += sub.failed
    probes, probe_t = comp.probes(), {}
    for rep in range(PROBE_REPS):
        _time_probes(comp.name, probes, spans, probe_t, rep)
    p = {k: statistics.median(v) for k, v in probe_t.items()}
    layers = comp.layers(p, _median_legs(recs[1:]))
    comp.close()
    return {k: v for k, v in layers.items() if k.split(".")[0] in comp.own}


def prepare_env() -> None:
    """Point everything Spark and Python write at the checkout, and make
    the engine importable here and in the pyspark workers."""
    for sub in ("tmp", "spark-local"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, str(ROOT))


def start_spark(cores: int):
    from georaster_spark.session import get_spark

    spark = get_spark(master=f"local[{cores}]", app_name="geobench", extra_conf=_conf(WORK))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, tree) -> None:
    """Stop Spark and wait until every process this run started has ended."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 20
    while True:
        left = [pid for pid in tree.members() if pid != tree.root]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.5)
            return
        time.sleep(0.2)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / "georaster_spark").is_dir() or not spec_path.is_file():
        print(f"no georaster_spark package or BENCHMARK.json under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads(spec_path.read_text())

    prepare_env()
    import inputs
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    inp = inputs.make(args.seed, "bench", WORK / "inputs")
    for line in inputs.describe(inp):
        print(line)

    cores = len(os.sched_getaffinity(0))
    tree = ProcTree()
    with RssPeak(tree) as rss:
        t0 = time.perf_counter()
        spark = start_spark(cores)
        session_s = time.perf_counter() - t0
        try:
            wl = WORKLOADS[args.workload](spark, inp, WORK, args.seed)
            runner = Runner(spark, wl, tree)
            settled = runner.warm_up()
            setup_s = time.perf_counter() - t0
            n_warm = len(runner.iterations)
            steal0 = cpu_steal()

            if args.trace:
                layers, detail = _traced_phase(runner, args.seconds, n_warm)
                layers["session.start_s"] = session_s
                measured = []
            else:
                t_end = time.perf_counter() + args.seconds
                while len(runner.iterations) - n_warm < MIN_ITERS or time.perf_counter() < t_end:
                    runner.iteration(len(runner.iterations))
                measured = runner.iterations[n_warm:]
            steal1 = cpu_steal()
            runner.verify()
            wl.close()
        finally:
            stop_spark(spark, tree)

    print(f"workload {args.workload}: {wl.rows} {wl.row_kind}/iteration on local[{cores}], "
          f"session {session_s:.2f} s, warm-up {n_warm} iterations "
          f"({'settled' if settled else 'not settled'} within {WARMUP_TOL:.0%})")
    steal = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
    print(f"host steal {steal:.1%} of this machine's CPU time while measuring")
    failed_frac = runner.failed / max(runner.attempted, 1)
    print(f"failed_frac {failed_frac:.4f} ({runner.failed}/{runner.attempted} operations)")

    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        unknown = sorted(set(layers) - set(names))
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": units[n]} for n in names}
        detail["metrics"] = metrics
        path = WORK / f"trace-{args.workload}-s{args.seed}.json"
        from tracing import write_trace

        write_trace(path, detail)
        un = layers["trace.unattributed_frac"]
        print(f"trace: {path.relative_to(ROOT)}; per-layer self times leave {un:+.1%} of the "
              f"traced iteration wall unattributed (tolerance ±{UNATTRIBUTED_TOL:.0%}); "
              f"tracing overhead {layers['trace.overhead_frac']:+.1%} of rows_per_s")
        if abs(un) > UNATTRIBUTED_TOL:
            print("trace: unattributed share outside tolerance", file=sys.stderr)
    else:
        walls = [r["wall_s"] for r in measured]
        q1, q2, q3 = _quartiles(walls)
        cpu = statistics.median(r["cpu"]["total"] for r in measured)
        e2e = {
            "setup_s": setup_s,
            "rows_per_s": wl.rows / q2,
            "iter_cpu_s": cpu,
            "peak_rss_mb": rss.peak / 1e6,
        }
        print(f"rows_per_s median {wl.rows / q2:.1f} (quartiles {wl.rows / q3:.1f} .. "
              f"{wl.rows / q1:.1f}) over n={len(walls)} iterations")
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in units.items()}
    for n, m in metrics.items():
        print(f"{n} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
