"""Full-registry timing snapshot: EVERY registered key at sf0.1, warm,
best-of-1, persisted to BENCH_FULL_r{N}.json (VERDICT r9 task 4).

The 44-key headline bench (bench.py) is kept for round-over-round
comparability; this snapshot closes the remaining 383-key blind spot —
a slope regression in the long tail shows up here a round earlier
than SCALING.md's manual audits. Once per round, at the exit seal:

    python tools/bench_full.py 10          # writes BENCH_FULL_r10.json

If an earlier BENCH_FULL_r{N}.json exists, every key that moved >2x
(and >0.5 s absolute, to keep sub-100 ms jitter out) is printed for
the round notes.

`--warm` (r12): per-key protocol becomes one untimed warm execution
followed by two timed ones, recording the min — the same warm rule
SCALING.md adjudicates with. Writes BENCH_FULL_WARM_r{N}.json and
never replaces the default snapshot: r12 proved warm walls are robust
to host-side degradation that inflates cold sweeps 1.4-4x, so the
warm artifact is the cross-round-comparable one when hosts differ;
the default cold sweep still exists because it is what catches
first-execution/compile regressions and costs 3x less.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from engine import ROOT  # noqa: E402
from engine.registry import all_queries  # noqa: E402
from engine.session import get_spark  # noqa: E402
from tools.check import assert_scale_knobs_unset  # noqa: E402


def warm(spark, queries, sf_dir: str) -> None:
    """Same untimed lane warmups as bench.py: JVM/codegen, python
    daemon + Arrow pool, MLlib/BLAS, Python DataSource worker, and
    the streaming replay staging."""
    queries["q_agg_group"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    spark.range(64).repartition(4).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.linalg import Vectors

    mldf = spark.createDataFrame(
        [(Vectors.dense([float(i), float(i % 3)]),) for i in range(12)],
        ["features"],
    )
    KMeans(k=2, seed=1, maxIter=2).fit(mldf)
    queries["q_source_python"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    from engine.streaming import _stage

    _stage(sf_dir, "plain")
    _stage(sf_dir, "sentinel")
    _stage(sf_dir, "late")


def main() -> None:
    # start-of-run load stamp (VERDICT r11 task 3): taken before any
    # Spark work so it reflects the box, not this sweep's own load
    load_start = os.getloadavg() if hasattr(os, "getloadavg") else None
    assert_scale_knobs_unset("a full-registry bench")
    args = [a for a in sys.argv[1:] if a != "--warm"]
    warm_mode = "--warm" in sys.argv[1:]
    rnd = int(args[0]) if args else 0
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    spark = get_spark("bench-full")
    queries = all_queries()
    warm(spark, queries, sf_dir)

    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    for i, key in enumerate(sorted(queries)):
        # ONE execution sink for both protocols — warm and cold must
        # measure the same thing (r12 review)
        def run() -> float:
            t0 = time.perf_counter()
            queries[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
        try:
            if warm_mode:
                # warm rule: one untimed execution compiles/caches the
                # plan, then min of two timed runs (SCALING.md's
                # adjudication protocol, host-degradation-robust)
                run()
                times[key] = round(min(run(), run()), 3)
            else:
                times[key] = round(run(), 3)
        except Exception as exc:  # noqa: BLE001 — record and keep sweeping
            # one bad key must not kill the snapshot (this caught the
            # q_stats_anova sf0.1 long overflow on the first run)
            errors[key] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
            print(f"[{i + 1:3d}/{len(queries)}]   ERROR   {key}: {errors[key]}", flush=True)
            continue
        print(f"[{i + 1:3d}/{len(queries)}] {times[key]:7.2f}s  {key}", flush=True)

    # load stamps (VERDICT r10 task 4a + r11 task 3, same fields as
    # bench.py): load_avg_start is 1/5/15-min BEFORE any Spark work
    # (the stamp that adjudicates box contention), load_avg is the
    # END stamp kept for artifact continuity.
    load = os.getloadavg() if hasattr(os, "getloadavg") else None
    out = {
        "metric": "full_registry_warm_total" if warm_mode else "full_registry_total",
        "protocol": "warm-best-of-2" if warm_mode else "cold-single-shot",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "n_keys": len(times),
        "n_errors": len(errors),
        "errors": errors,
        "sf": sf,
        "queries": times,
        "load_avg_start": (
            [round(x, 2) for x in load_start] if load_start else None
        ),
        "load_avg": [round(x, 2) for x in load] if load else None,
    }
    stem = "BENCH_FULL_WARM" if warm_mode else "BENCH_FULL"
    path = os.path.join(ROOT, f"{stem}_r{rnd:02d}.json" if rnd else f"{stem}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(f"\nwrote {path}: {out['value']}s over {out['n_keys']} keys")

    # round-over-round movers, delegated to the standalone diff tool
    # (tools/bench_diff.py, VERDICT r11 task 4) so the per-run print
    # and the notes table come from the same code path; warm snapshots
    # diff only against warm snapshots (different protocols never mix)
    from tools.bench_diff import print_diff

    # sort by PARSED round number, not the raw filename (ADVICE r12:
    # lexicographic r{N:02d} order breaks at round 100)
    def _round_of(f: str) -> int:
        try:
            return int(f[len(f"{stem}_r"):-len(".json")])
        except ValueError:
            return -1
    prior_files = sorted(
        (f for f in os.listdir(ROOT)
         if f.startswith(f"{stem}_r") and f.endswith(".json")
         and f != os.path.basename(path) and _round_of(f) >= 0),
        key=_round_of,
    )
    if prior_files:
        print()
        print_diff(os.path.join(ROOT, prior_files[-1]), path)


if __name__ == "__main__":
    main()
