"""Layer-split benchmark of the engine's registry keys.

Run from the repository root:

    python3 perfbench/run.py --workload olap_scan --seed 1 --seconds 10 --trace 0

One process, one fresh local Spark session built by
``engine.session.get_spark`` with ``local[<cpus>]``, one client in a
closed loop: the next key starts only when the previous one finished.
The workload's keys run in a seed-permuted order, pass after pass,
until ``--seconds`` have elapsed. Each key execution is the registry
query function (build) followed by a noop-sink write (execute).
Afterwards every key is checked once, untimed, against its DuckDB
oracle with ``tools/check.py``'s comparator.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
traced and untraced passes and prints the per-layer metrics (see
``spans.py``) and the tracing overhead. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. See README.md in this directory.
"""

from __future__ import annotations

T_PROCESS = __import__("time").perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402
from collections import Counter  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".perfbench")

# Each workload: input scale, the warm-up lanes its keys use, how many
# warm passes make its sample (11-13 s of warm work on a 4-core
# host; more would not fit the benchmark's run budget), and its keys.
WORKLOADS: dict[str, dict] = {
    "olap_scan": {
        "sf": 0.1,
        "lanes": ("codegen",),
        "warm_passes": 5,
        "keys": [
            "q_agg_group", "q_join_multiway", "q_tpch_q1", "q_tpch_q3", "q_vwap",
        ],
    },
    "driver_loop": {
        "sf": 0.01,
        "lanes": ("codegen", "python"),
        "warm_passes": 2,
        "keys": [
            "q_graph_pagerank", "q_stream_tumbling", "q_source_csv_roundtrip",
            "q_udf_pandas_scalar", "q_udf_map_arrow",
        ],
    },
}

# Keys known to differ from their DuckDB oracle: q_vwap's result drifts
# in the 4th decimal on 0-2 of 20,000 rows depending on the input's row
# order (summation order). They stay in their workload and are counted
# in ``oracle_mismatch_keys``; a mismatch on any other key makes the
# run incorrect.
KNOWN_MISMATCH = {"q_vwap"}
# Percentiles the tail may be reported at; the highest one with at
# least ten samples beyond it is used.
TAIL_LADDER = (0.99, 0.95, 0.9, 0.75, 0.5)


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_env(run_tmp: str) -> None:
    """Size the session from the host through the env knobs get_spark
    reads, and keep every file the run writes inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["ENGINE_DRIVER_MEM"] = f"{max(1, min(8, int(mem_gb // 4)))}g"
    # Python workers import ``engine`` from the checkout root.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_tmp, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_tmp, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_tmp, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(run_tmp, 'tmp')} -XX:-UsePerfData"
    )


def redirect_engine_tmp(run_tmp: str) -> None:
    """The engine's replay, sink and checkpoint scratch paths are
    absolute constants rooted outside this checkout; point them at the
    run's own directory. Module constants are reassigned; checkpoint
    locations, built inline, are rewritten where they are set."""
    import engine.io_queries as io_queries
    import engine.streaming as streaming
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    engine_tmp = os.path.dirname(streaming._TMP)
    streaming._TMP = os.path.join(run_tmp, "stream")
    io_queries._TMP = os.path.join(run_tmp, "io")
    option = DataStreamWriter.option

    def rooted_option(self, key, value):
        if isinstance(value, str) and value.startswith(engine_tmp + "/"):
            value = os.path.join(run_tmp, value[len(engine_tmp) + 1 :])
        return option(self, key, value)

    DataStreamWriter.option = rooted_option


def warm_lanes(spark, queries, sf_dir: str, lanes) -> None:
    """The warm-ups ``bench.py`` does, for the lanes this workload uses.
    (No workload key uses MLlib or a Python DataSource, so those two
    ``bench.py`` lanes are not warmed.)"""
    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
    if "codegen" in lanes:
        noop(queries["q_agg_group"](spark, sf_dir))
    if "python" in lanes:
        noop(spark.range(64).repartition(4).mapInPandas(lambda it: it, "id long"))


def percentile(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    if len(values) < 2:
        return 0.0
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def run_key(spark, fn, sf_dir: str, tracer=None, pass_no: int = 0, key: str = ""):
    """One closed-loop key execution; returns (wall_s, build_s)."""
    if tracer is None:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, t1 - t0
    root = tracer.root(key, pass_no)
    span = tracer.child(root, "build")
    df = fn(spark, sf_dir)
    build = tracer.close(span)
    span = tracer.child(root, "plan")
    tracer.plan(root, df)
    tracer.close(span)
    span = tracer.child(root, "execute")
    df.write.format("noop").mode("overwrite").save()
    tracer.close(span)
    wall = tracer.close(root)
    tracer.collect(root)
    return wall, build


def check_keys(spark, queries, oracles, keys, sf_dir: str) -> tuple[list, list]:
    """Untimed correctness: oracle keys against DuckDB on the same
    input; rows-only keys for a stable row count and schema."""
    from tools.check import check_one, duck_con

    con = duck_con(sf_dir)
    mismatched, notes = [], []
    for key in keys:
        sql = oracles.get(key)
        try:
            if sql is None:
                a = queries[key](spark, sf_dir).toPandas()
                b = queries[key](spark, sf_dir).toPandas()
                ok = len(a) == len(b) and list(a.dtypes.items()) == list(b.dtypes.items())
                msg = f"rows-only: {len(a)} then {len(b)} rows"
            else:
                ok, msg = check_one(spark, con, key, queries[key], sql, sf_dir)
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"EXCEPTION {type(e).__name__}: {e}"
        if not ok:
            mismatched.append(key)
        notes.append(f"{'OK  ' if ok else 'DIFF'} {key}: {msg.splitlines()[0]}")
    con.close()
    return mismatched, notes


def driver_memory_mb(spark) -> tuple[float, float]:
    """JVM heap in use after explicit collections, and the Python
    driver's peak RSS."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    heap = float("inf")
    # Python-side frames pin their JVM Datasets through py4j until
    # collected. Spark's ContextCleaner frees broadcast and shuffle
    # blocks only after a JVM collection has queued their references,
    # so collect, let it run, and collect again.
    gc.collect()
    for _ in range(3):
        jvm.System.gc()
        time.sleep(0.5)
        heap = min(heap, (rt.totalMemory() - rt.freeMemory()) / 2**20)
    return heap, resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def closed_loop(spark, queries, keys, sf_dir: str, seconds: float, min_passes: int, tracer):
    """Pass after pass over ``keys`` until ``seconds`` have passed and
    ``min_passes`` have run; pass 0 is the cold pass. A traced run
    traces every other pass, starting at pass 1."""
    passes: list[dict] = []
    attempted = failed = 0
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or len(passes) < min_passes:
        p = len(passes)
        traced = tracer is not None and p % 2 == 1
        walls = {}
        for key in keys:
            attempted += 1
            try:
                walls[key] = run_key(spark, queries[key], sf_dir,
                                     tracer if traced else None, p, key)
            except Exception:  # noqa: BLE001 - a failed key is counted, the loop goes on
                failed += 1
                print(f"error: pass {p} {key}:", file=sys.stderr)
                traceback.print_exc()
        passes.append({"pass": p, "traced": traced, "walls": walls,
                       "wall": sum(v[0] for v in walls.values())})
    return passes, attempted, failed


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("engine/session.py", "engine/registry.py", "tools/check.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"run from the repository root: {need} not found under {ROOT}")
    w = WORKLOADS[args.workload]

    # Inputs: generated from the seed, outside the timed set-up.
    sys.path.insert(0, HERE)
    import gen

    t_gen = time.perf_counter()
    sf_dir = gen.generate(
        os.path.join(WORK, "data", f"sf{w['sf']}-s{args.seed}"), w["sf"], args.seed
    )
    gen_s = time.perf_counter() - t_gen
    run_tmp = os.path.join(WORK, "run", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_tmp, ignore_errors=True)
    host_env(run_tmp)
    keys = list(w["keys"])
    random.Random(args.seed).shuffle(keys)

    # Set-up: session, registry, lane warm-ups, replay staging.
    sys.path.insert(0, ROOT)
    t0 = time.perf_counter()
    from engine.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        redirect_engine_tmp(run_tmp)
        from engine.registry import all_oracles, all_queries

        queries, oracles = all_queries(), all_oracles()
        warm_lanes(spark, queries, sf_dir, w["lanes"])
        t2 = time.perf_counter()
        from engine.streaming import _stage

        _stage(sf_dir, "plain")
        t3 = time.perf_counter()
        layer = {"session.get_spark_s": t1 - t0, "session.warmup_s": t2 - t1,
                 "streaming.stage_s": t3 - t2}
        setup_s = t3 - T_PROCESS - gen_s

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark, args.workload)
        # cold + settling pass + the warm sample; a traced run needs two
        # traced and two untraced passes after the cold one
        min_passes = 2 + w["warm_passes"]
        if tracer is not None:
            min_passes = max(min_passes, 5)
        passes, attempted, failed = closed_loop(
            spark, queries, keys, sf_dir, args.seconds, min_passes, tracer)
        t_window = time.perf_counter()
        mismatched, notes = check_keys(spark, queries, oracles, keys, sf_dir)
        heap_mb, rss_mb = driver_memory_mb(spark)
        if tracer is not None:
            tracer.dump(os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.jsonl"))
    finally:
        stop(spark)
        shutil.rmtree(run_tmp, ignore_errors=True)
    # Pass 1 is still settling (up to 25 % slower than pass 2) and is
    # discarded with the cold pass. The pass count, not the clock, ends
    # the window at the committed run_seconds, so every run's warm
    # sample sits at the same pass indices: with a deadline, a slow
    # start left fewer, less settled warm passes and widened the spread.
    warm = passes[2:]

    print(f"perfbench: inputs {gen_s:.1f}s, set-up {setup_s:.1f}s, "
          f"window {t_window - t3:.1f}s, check+stop {time.perf_counter() - t_window:.1f}s, "
          f"process {time.perf_counter() - T_PROCESS:.1f}s", file=sys.stderr)
    unexpected = [k for k in mismatched if k not in KNOWN_MISMATCH]
    print(f"workload {args.workload}: {len(keys)} keys at sf{w['sf']}, "
          f"seed {args.seed}, local[{os.environ['SPARK_GRAFT_CPUS']}], "
          f"{len(passes)} passes, 1 closed-loop client")
    for key in keys:
        cold = passes[0]["walls"].get(key, (float("nan"),) * 2)
        ws = [p["walls"][key] for p in warm if key in p["walls"]]
        if not ws:
            continue
        print(f"  key {key}: cold {cold[0]:.3f}s (build {cold[1]:.3f}s), warm median "
              f"{statistics.median(v[0] for v in ws):.3f}s (build "
              f"{statistics.median(v[1] for v in ws):.3f}s) over {len(ws)}")
    for n in notes:
        print(f"  check {n}")
    print(f"  driver memory: JVM live heap {heap_mb:.1f} MB, Python peak RSS {rss_mb:.1f} MB")
    print(f"  error_rate {failed / attempted:.4f} ({failed}/{attempted} executions raised)")
    print(f"  oracle_mismatch_keys {len(mismatched)} {sorted(mismatched)} "
          f"(known: {sorted(KNOWN_MISMATCH & set(keys))})")
    if args.trace:
        metrics = layer_metrics(passes, tracer, layer)
        metrics["error_rate"] = (failed / attempted, "ratio")
        metrics["oracle_mismatch_keys"] = (len(mismatched), "count")
    else:
        metrics = end_to_end(passes, warm, setup_s, heap_mb + rss_mb)
    for name, (value, unit) in metrics.items():
        print(f"  {name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": not unexpected and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))


def end_to_end(passes, warm, setup_s, live_mb) -> dict:
    lat = [v[0] for p in warm for v in p["walls"].values()]
    q = next((q for q in TAIL_LADDER if len(lat) * (1 - q) >= 10), 0.5)
    warm_walls = [p["wall"] for p in warm]
    print(f"  warm sample: passes {warm[0]['pass']}..{warm[-1]['pass']} "
          f"({len(warm)} passes, {len(lat)} key executions); "
          f"warm_pass_s spread {spread(warm_walls):.3f}; tail is p{round(q * 100)}")
    return {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (passes[0]["wall"], "s"),
        "warm_pass_s": (statistics.median(warm_walls), "s"),
        "query_p50_s": (statistics.median(lat), "s"),
        "query_tail_s": (percentile(lat, q), "s"),
        "driver_live_mb": (live_mb, "MB"),
    }


def layer_metrics(passes, tracer, layer) -> dict:
    """Per-layer numbers from the traced warm passes: walls are the
    median over those passes, counters come from the last one."""
    traced = [p for p in passes[1:] if p["traced"]]
    plain = [p for p in passes[1:] if not p["traced"]]
    per_pass: dict[int, Counter] = {p["pass"]: Counter() for p in traced}
    for s in tracer.spans:
        if s["pass"] in per_pass and s["end"] is not None:
            acc = per_pass[s["pass"]]
            acc[f"span.{s['name']}"] += s["end"] - s["start"]
            if s["name"] == "key":
                acc.update(tracer.counters.get(s["trace"], {}))
    last = per_pass[traced[-1]["pass"]]
    prev = per_pass[traced[-2]["pass"]] if len(traced) > 1 else {}
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])

    def med(name):
        return statistics.median(per_pass[p["pass"]].get(name, 0.0) for p in traced)

    stream_keys_build = 0.0
    for s in tracer.spans:
        if s["pass"] == traced[-1]["pass"] and s["name"] == "build":
            c = tracer.counters.get(s["trace"], {})
            if c.get("streaming.batches"):
                stream_keys_build += s["end"] - s["start"]
    m = {}
    m.update({k: (v, "s") for k, v in layer.items()})
    build, key_wall = med("span.build"), med("span.key")
    m["build.wall_s"] = (build, "s")
    m["build.jobs"] = (last.get("build.jobs", 0), "count")
    m["build.tasks"] = (last.get("build.tasks", 0), "count")
    m["build.share"] = (build / key_wall if key_wall else 0.0, "ratio")
    for k in ("analysis", "optimization", "planning"):
        m[f"plan.{k}_s"] = (med(f"plan.{k}_s"), "s")
    m["plan.exchanges"] = (last.get("plan.exchanges", 0), "count")
    m["plan.single_partition_windows"] = (last.get("plan.single_partition_windows", 0), "count")
    ex_wall = med("span.execute")
    m["execute.wall_s"] = (ex_wall, "s")
    for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("shuffle_read_bytes", "B"), ("shuffle_write_bytes", "B"),
                    ("spill_bytes", "B"), ("input_bytes", "B"), ("task_run_s", "s"),
                    ("task_cpu_s", "s"), ("gc_s", "s"), ("fetch_wait_s", "s")):
        m[f"execute.{k}"] = (last.get(f"execute.{k}", 0), unit)
    m["execute.slot_util"] = (
        last.get("execute.task_run_s", 0) / (last.get("span.execute", 0) * cpus)
        if last.get("span.execute") else 0.0, "ratio")
    written = sum(last.get(f"{lay}.output_bytes", 0) for lay in ("build", "plan"))
    read = sum(last.get(f"{lay}.input_bytes", 0) for lay in ("build", "plan", "execute"))
    m["io.bytes_written"] = (written, "B")
    m["io.records_written"] = (
        sum(last.get(f"{lay}.output_records", 0) for lay in ("build", "plan")), "count")
    m["io.write_jobs"] = (last.get("io.write_jobs", 0), "count")
    m["io.write_amplification"] = (written / read if read else 0.0, "ratio")
    m["streaming.batches"] = (last.get("streaming.batches", 0), "count")
    for k in ("trigger_s", "add_batch_s", "commit_s", "state_commit_s"):
        m[f"streaming.{k}"] = (last.get(f"streaming.{k}", 0.0), "s")
    m["streaming.state_rows"] = (last.get("streaming.state_rows", 0), "count")
    m["streaming.overhead_s"] = (
        stream_keys_build - last.get("streaming.trigger_s", 0.0), "s")
    for k, unit in (("python_nodes", "count"), ("bytes_sent", "B"),
                    ("bytes_received", "B"), ("rows_received", "count")):
        m[f"udf.{k}"] = (last.get(f"udf.{k}", 0), unit)
    overhead = (statistics.median(p["wall"] for p in traced)
                - statistics.median(p["wall"] for p in plain)) if plain else 0.0
    m["trace.overhead_s"] = (overhead, "s")
    counters = sorted(k for k in last if not k.startswith("span.") and not k.endswith("_s"))
    exact = [k for k in counters if prev and prev.get(k) == last.get(k)]
    print(f"  traced passes {[p['pass'] for p in traced]}, untraced {[p['pass'] for p in plain]}; "
          f"walls: median over traced warm passes; counters: pass {traced[-1]['pass']}")
    print(f"  counters repeating exactly between passes {traced[-2]['pass'] if prev else '-'} "
          f"and {traced[-1]['pass']}: {exact}")
    print(f"  counters that moved: {[k for k in counters if k not in exact]}")
    return m


if __name__ == "__main__":
    main()
