"""Repository benchmark: search_mix and cdc_stream at local[4].

    python3 perfbench/run.py --workload search_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

A run makes its inputs from ``--seed`` (cached under ``perfbench/.cache``),
starts Spark, warms up, sets up, measures for ``--seconds``, checks every
answer against the BM25 oracle and prints, as its last stdout line, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is a report of the named metrics of the
workload with their sample counts. ``--smoke`` runs every workload on a
tiny corpus and checks that the gate counts a permuted top-k as failed.
See BENCHMARK.md for what each metric means and which layer moves it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CACHE = os.path.join(HERE, ".cache")
CPUS = 4
WORKLOADS = ("search_mix", "cdc_stream")

# Input sizes. A "chunk" is one generate_transcripts call of N_CONVS[chunk_sf]
# conversations (~24.5k turns at sf0.01); see BENCHMARK.md for why these sizes.
FULL = {
    "chunk_sf": "sf0.01",
    "corpus_chunks": 1,   # search_mix: ~24.5k turns
    "cdc_chunks": 1,      # cdc_stream base index: ~24.5k turns
    "cdc_batches": 2,
    "batch_rows": 2000,
    "partitions": 16,
    "buckets": 16,
    "setup_reps": 2,
    "cdc_serve_passes": 2,
}
SMOKE = {
    **FULL,
    "chunk_sf": "sf0.001",
    "corpus_chunks": 1,
    "batch_rows": 200,
    "partitions": 8,
    "buckets": 4,
    "cdc_serve_passes": 1,
}

def _work_dirs() -> None:
    """Keep every file Spark, the JVM and the workers write inside the
    checkout."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _start_spark(tracer):
    from sync2any_spark.session import get_spark

    t = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark(
            "perfbench", cpus=CPUS, shuffle_partitions=3 * CPUS,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            },
        )
    return spark, time.perf_counter() - t


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the next session in this process launches a fresh JVM
    SparkContext._gateway = None
    SparkContext._jvm = None


T0 = time.perf_counter()


def log(msg: str) -> None:
    """Phase timeline on stderr."""
    print(f"[perfbench {time.perf_counter() - T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def _timed(tracer, fn, *args) -> float:
    t = time.perf_counter()
    with tracer.span("session.warmup"):
        fn(*args)
    return time.perf_counter() - t


def run_workload(name: str, seed: int, seconds: float, trace: bool, sizes: dict) -> dict:
    import inputs
    import workloads as wl
    from gate import Tally
    from spans import Tracer

    cache = inputs.Cache(CACHE)
    sf = sizes["chunk_sf"]
    warm_dir = inputs.warm_entry(cache)
    if name == "cdc_stream":
        data_dir = inputs.cdc_entry(cache, sf, seed, sizes["cdc_chunks"], sizes["cdc_batches"],
                                    sizes["batch_rows"], CPUS)
    else:
        data_dir = inputs.corpus_entry(cache, sf, seed, sizes["corpus_chunks"], CPUS)

    log(f"{name}: inputs ready")
    shutil.rmtree(WORK, ignore_errors=True)
    _work_dirs()
    tracer = Tracer(trace)
    spark, start_s = _start_spark(tracer)
    log("spark started")
    try:
        ctx = wl.Ctx(spark, tracer, Tally(), WORK, seconds, sizes)
        warmup_s = _timed(tracer, wl.warm_build, ctx, warm_dir)
        log("warmed up")
        if name == "search_mix":
            rep = wl.open_search(ctx, data_dir)
            log("set up")
            warmup_s += _timed(tracer, wl.warm_search, ctx, rep, data_dir)
            out = wl.search_mix(ctx, data_dir, rep)
        else:
            rep = wl.open_cdc(ctx, data_dir)
            log("set up")
            warmup_s += _timed(tracer, wl.warm_cdc, ctx, warm_dir)
            out = wl.cdc_stream(ctx, data_dir, rep)
        log("measured")
    finally:
        _stop_spark(spark)
        log("spark stopped")
    setup_s = start_s + warmup_s + rep["setup_s"]
    out["report"]["setup_s"] = (setup_s, "s", sizes["setup_reps"])
    selfs = tracer.self_seconds()
    out["layers"].update({
        "session.start_s": start_s,
        "session.warmup_s": warmup_s,
        "trace.spans": float(len(tracer.spans)),
        **{f"self.{layer}_s": selfs.get(layer, 0.0) for layer in SELF_LAYERS},
    })
    if trace:
        tracer.write(os.path.join(HERE, ".trace", f"{name}-s{seed}.jsonl"), out["layers"])
    out["tally"] = ctx.tally
    return out


SELF_LAYERS = ("client", "session", "builder", "serving", "wand", "stream", "incremental", "compact")


def metric_units(kind: str) -> "dict[str, str]":
    """Name -> unit of BENCHMARK.json's ``end_to_end`` or ``per_layer``
    metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[kind]}


def result_line(name: str, out: dict, trace: bool) -> dict:
    import workloads as wl

    tally = out["tally"]
    if trace:
        metrics = {n: {"value": float(out["layers"].get(n, 0.0)), "unit": u}
                   for n, u in metric_units("per_layer").items()}
    else:
        metrics = {}
        for n, u in metric_units("end_to_end").items():
            value, unit, *_ = out["report"][wl.E2E[name][n]]
            scale = 1e3 if (unit, u) == ("s", "ms") else 1.0
            metrics[n] = {"value": float(value) * scale, "unit": u}
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }


def smoke() -> int:
    """Tiny corpus, every workload end to end, untraced and traced, then the
    gate self-test: a real golden top-k with two entries swapped must count
    as a failed operation."""
    import inputs
    from gate import Tally, topk_matches

    ok = True
    for name in WORKLOADS:
        for trace in (False, True):
            out = run_workload(name, seed=1, seconds=2.0, trace=trace, sizes=SMOKE)
            line = result_line(name, out, trace)
            print(json.dumps({"workload": name, "trace": trace, **line}))
            ok &= line["correct"] and line["attempted"] > 0
    corpus = inputs.corpus_entry(inputs.Cache(CACHE), SMOKE["chunk_sf"], 1,
                                 SMOKE["corpus_chunks"], CPUS)
    with open(os.path.join(corpus, "queries.json")) as f:
        golden = next(q["hits"] for q in json.load(f) if len(q["hits"]) >= 2
                      and q["hits"][0][1] != q["hits"][1][1])
    permuted = [tuple(h) for h in [golden[1], golden[0], *golden[2:]]]
    t = Tally()
    t.record(topk_matches(permuted, golden), "selftest.permuted")
    t.record(topk_matches([tuple(h) for h in golden], golden), "selftest.golden")
    selftest = t.reasons == {"selftest.permuted": 1} and t.attempted == 2
    print(json.dumps({"gate_selftest": {"attempted": t.attempted, "failed": t.failed,
                                        "permuted_counted_failed": selftest}}))
    ok &= selftest
    print(json.dumps({"smoke": "pass" if ok else "fail"}))
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    import sync2any_spark  # noqa: F401  -- fail before any output without the engine

    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    out = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), FULL)
    report = {k: {"value": v, "unit": u, "n": n, **({"samples": rest[0]} if rest else {})}
              for k, (v, u, n, *rest) in out["report"].items()}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "report": report,
                      "failed_reasons": out["tally"].reasons}))
    print(json.dumps(result_line(args.workload, out, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
