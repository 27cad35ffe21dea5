"""Self-test of the benchmark at its smallest input scale.

    python3 geobench/selftest.py

Starts one Spark session, runs one iteration of every workload on the
``tiny`` inputs (1,024 images) plus the once-per-run row checks, and
requires every answer check to pass.  Then it feeds each check a
perturbed copy of a correct result (a dropped pair, a changed count, a
shifted value, a lost readback row) and requires the check to fail, so a
check that accepts anything is caught.  Exit code 0 means all passed.
"""

from __future__ import annotations

import os
import sys

from run import WORK, Runner, prepare_env, start_spark, stop_spark

SEED = 7
SF01_COUNTS = (124_025, 61_557)  # BENCH_r04: assignments, PIP pairs at sf0.1


def _mutations(wls) -> list[tuple[str, bool, bool]]:
    """(case, check on the true result, check on the perturbed one)."""
    import pyarrow as pa

    head, pts, ck = wls["headline"], wls["point_sample"], wls["checkpoint_resume"]
    out = []

    leg = head.verify()[1]  # pair rows
    img, zone = leg.call()
    out.append(("headline pairs, one pair dropped", leg.check((img, zone)), leg.check((img[1:], zone[1:]))))
    moved = zone.copy()
    moved[0] = (moved[0] + 1) % head.inp.n_zones
    out.append(("headline pairs, one zone changed", leg.check((img, zone)), leg.check((img, moved))))

    leg = head.legs(0)[0]  # assignment count
    n = leg.call()
    out.append(("headline assignment count off by one", leg.check(n), leg.check(n - 1)))

    leg = head.legs(0)[2]  # zone stats
    rows = [r.asDict() for r in leg.call()]
    bad = [dict(r) for r in rows]
    bad[0]["avg_tile_mean"] += 1e-3
    out.append(("headline zone mean shifted", leg.check(rows), leg.check(bad)))

    leg = pts.legs(0)[1]  # bilinear interp
    t = leg.call()
    vals = t.column("val").to_numpy(zero_copy_only=False).copy()
    vals[len(vals) // 2] += 0.5
    bad = t.set_column(t.schema.get_field_index("val"), "val", pa.array(vals))
    out.append(("point interp value shifted", leg.check(t), leg.check(bad)))

    legs = ck.legs(0)
    results = []
    for leg in legs:
        results.append(leg.call())
        if not leg.check(results[-1]):
            out.append((f"checkpoint {leg.name} on the true result", False, False))
            return out
        if leg.after:
            leg.after()
    t = results[-1]
    out.append(("checkpoint readback, one row lost", legs[-1].check(t), legs[-1].check(t.slice(1))))
    return out


def _sf01_counts() -> tuple[int, int]:
    """Assignment and pair counts of the benchmark's oracle path over the
    repo's own sf0.1 layout (100k 64x64 images, sources.fixtures zones).
    BENCH_r04 recorded 124,025 and 61,557 from the engine on that data."""
    import numpy as np
    import pyarrow.parquet as pq

    import inputs
    from georaster_spark import oracle
    from georaster_spark.sources import fixtures

    n, w = 100_000, 64
    geo = oracle.georegister(np.arange(n), np.full(n, w))
    out = WORK / "tmp" / "sf0.1-zones"
    out.mkdir(parents=True, exist_ok=True)
    fixtures._write_zones(out, 256, n)
    zones = pq.read_table(out / "zones.parquet").to_pylist()
    return len(inputs.assignments(geo, w)[0]), len(inputs.pip_pairs(geo, w, zones)[0])


def main() -> int:
    prepare_env()
    import inputs
    from procs import ProcTree
    from workloads import WORKLOADS

    counts = _sf01_counts()
    print(f"selftest sf0.1 oracle counts: {counts[0]} assignments, {counts[1]} pairs")
    problems = [] if counts == SF01_COUNTS else [f"sf0.1 oracle counts {counts} != {SF01_COUNTS}"]

    inp = inputs.make(SEED, "tiny", WORK / "inputs")
    tree = ProcTree()
    spark = start_spark(len(os.sched_getaffinity(0)))
    try:
        wls = {name: cls(spark, inp, WORK, SEED) for name, cls in WORKLOADS.items()}
        for name, wl in wls.items():
            runner = Runner(spark, wl, tree)
            runner.iteration(0)
            runner.verify()
            print(f"selftest {name}: {runner.attempted - runner.failed}/{runner.attempted} checks passed")
            if runner.failed:
                problems.append(f"{name}: {runner.failed} of {runner.attempted} checks failed")
        for case, good, bad in _mutations(wls):
            print(f"selftest mutation {case}: true result {'passes' if good else 'FAILS'}, "
                  f"perturbed result {'PASSES' if bad else 'fails'}")
            if not good or bad:
                problems.append(case)
        for wl in wls.values():
            wl.close()
    finally:
        stop_spark(spark, tree)
    for p in problems:
        print(f"selftest FAILED: {p}", file=sys.stderr)
    print("selftest ok" if not problems else "selftest failed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
