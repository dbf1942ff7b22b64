"""The workloads. Each warms up, sets up, measures for the run's
seconds, checks every answer through ``gate`` and returns its end-to-end
metrics, its per-layer metrics and a report of the named metrics with sample
counts.

Layers are timed from outside, around calls into their public functions;
numbers a layer already reports (its return value, the index's metrics
table, ``StreamingQuery.recentProgress``) are read as reported. Each timed
operation is measured twice: in wall seconds, and in the CPU seconds of the
process tree that did its work (``cpu.tree_cpu_s``; ``process_time`` for
the serving path, which runs in this process).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from time import perf_counter as now
from time import process_time

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from sync2any_spark.index.builder import (
    build_index,
    force_merge_postings,
    postings_sources,
    read_index_meta,
)
from sync2any_spark.query.serving import LocalSearcher
from sync2any_spark.query.wand import IndexSearcher
from sync2any_spark.streaming import stream as stream_mod
from sync2any_spark.streaming.incremental import compact
from sync2any_spark.streaming.stream import run_increment_stream

from cpu import tree_cpu_s
from gate import Tally, fetch_matches, topk_matches
from inputs import read_corpus
from spans import Tracer

GOLDEN = (5 ** 0.5 - 1) / 2
MIN_ROUNDS = 2          # search_mix runs at least this many rounds of its loops
QUERY_PATH_QUERIES = 4  # query-path requests a round: the walk's first ones
SERVE_CLIENTS = 4

# Each end-to-end metric reads one report entry of the workload.
_BUILD_E2E = {n: n for n in ("setup_s", "build_turns_per_cpu_s", "index_bytes_per_input_byte")}
E2E = {
    "search_mix": {
        **_BUILD_E2E,
        "throughput_per_cpu_s": "serve4_per_cpu_s",
        "read_cpu_ms": "serve_cpu_ms",
        "main_op_cpu_ms": "query_cpu_ms",
        "rewrite_cpu_s": "force_merge_cpu_s",
    },
    "cdc_stream": {
        **_BUILD_E2E,
        "throughput_per_cpu_s": "cdc_rows_per_cpu_s",
        "read_cpu_ms": "serve_cpu_ms",
        "main_op_cpu_ms": "cdc_apply_cpu_s",
        "rewrite_cpu_s": "compact_cpu_s",
    },
}


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    tally: Tally
    work: str
    seconds: float
    sizes: dict


# ------------------------------------------------------------------ helpers
def build(ctx: Ctx, src: str, idx: str) -> "tuple[float, dict]":
    shutil.rmtree(idx, ignore_errors=True)
    spark = ctx.spark
    t = now()
    with ctx.tracer.span("builder.build"):
        summary = build_index(
            spark, spark.read.parquet(src), idx,
            n_partitions=ctx.sizes["partitions"], n_buckets=ctx.sizes["buckets"],
            n_salts=8, heavy_df_threshold=20_000, resume=False,
            input_split_mb=1, source_path=src, span_mb=4,
        )
    return now() - t, summary


def force_merge(ctx: Ctx, idx: str) -> float:
    t = now()
    with ctx.tracer.span("builder.force_merge"):
        force_merge_postings(ctx.spark, idx)
    return now() - t


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, n)) for r, _, names in os.walk(path) for n in names
    )


def index_bytes(idx: str) -> "dict[str, int]":
    """Bytes per index subdirectory: docs, postings, chunks, and the rest."""
    out = {"docs": 0, "postings": 0, "chunks": 0, "other": 0}
    for name in os.listdir(idx):
        p = os.path.join(idx, name)
        n = dir_bytes(p) if os.path.isdir(p) else os.path.getsize(p)
        out[name if name in out else "other"] += n
    return out


def stage_walls(idx: str) -> "dict[str, float]":
    """The reported stage walls and counts of the index's metrics table."""
    m = pads.dataset(os.path.join(idx, "metrics")).to_table().to_pandas()
    return {f"{r.stage}.{r.key}": float(r.value) for r in m.itertuples(index=False)}


def serving_blocks(idx: str) -> int:
    """Postings blocks a LocalSearcher pins: rows of every committed
    postings source."""
    meta = read_index_meta(idx)
    return sum(
        pq.ParquetFile(os.path.join(r, n)).metadata.num_rows
        for d in postings_sources(idx, meta)
        for r, _, names in os.walk(d)
        for n in names
        if n.endswith(".parquet")
    )


def load_json(path: str):
    with open(path) as f:
        return json.load(f)


def med(xs) -> float:
    return float(statistics.median(xs)) if len(xs) else 0.0


def pct(xs, p: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=float), p)) if len(xs) else 0.0


def cost_spread(queries: list) -> list:
    """The queries sorted by cost (k, then Σdf price) and walked along the
    golden-ratio sequence, so that every prefix of the walk samples the
    whole cost range evenly. A loop that completes fewer requests in its
    time, on a slower run, so still sends the same mix."""
    by_cost = sorted(queries, key=lambda q: (q["k"], q["price"]))
    ranks = np.argsort(np.argsort([(t * GOLDEN) % 1.0 for t in range(len(by_cost))]))
    return [by_cost[r] for r in ranks]


def set_up(ctx: Ctx, src: str, name: str) -> dict:
    """Build and force-merge the workload's index ``setup_reps`` times, each
    into a fresh directory, and keep the last. Records each repetition's
    walls and CPU seconds and what the builder reports about the kept
    index."""
    builds, build_cpu, fms, fm_cpu, walls = [], [], [], [], []
    for r in range(ctx.sizes["setup_reps"]):
        idx = os.path.join(ctx.work, f"{name}{r}")
        t, c = now(), tree_cpu_s()
        wall, summary = build(ctx, src, idx)
        build_cpu.append(tree_cpu_s() - c)
        ctx.tally.record(summary["n_docs"] == pq.ParquetFile(src).metadata.num_rows, "build.n_docs")
        sizes, stages = index_bytes(idx), stage_walls(idx)
        c = tree_cpu_s()
        fms.append(force_merge(ctx, idx))
        fm_cpu.append(tree_cpu_s() - c)
        walls.append(now() - t)
        builds.append(wall)
        if r + 1 < ctx.sizes["setup_reps"]:
            shutil.rmtree(idx, ignore_errors=True)
    return {"idx": idx, "builds": builds, "build_cpu": build_cpu, "fms": fms, "fm_cpu": fm_cpu,
            "setup_s": med(walls), "sizes": sizes, "stages": stages, "n_docs": summary["n_docs"],
            "src_bytes": os.path.getsize(src)}


def builder_layers(rep: dict) -> dict:
    return {
        "builder.build_s": med(rep["builds"]),
        "builder.force_merge_s": med(rep["fms"]),
        "builder.postings_blocks": rep["stages"].get("postings.n_blocks", 0.0),
        **{f"builder.{s}_s": rep["stages"].get(f"{s}.wall_s", 0.0)
           for s in ("offsets", "spimi", "terms", "postings")},
        **{f"builder.bytes.{k}": float(v) for k, v in rep["sizes"].items()},
    }


def builder_report(rep: dict) -> dict:
    n = len(rep["builds"])
    return {
        "build_turns_per_s": (rep["n_docs"] / med(rep["builds"]), "turns/s", n),
        "build_turns_per_cpu_s": (rep["n_docs"] / med(rep["build_cpu"]), "turns/cpu_s", n),
        "build_s": (med(rep["builds"]), "s", n, rep["builds"]),
        "build_cpu_s": (med(rep["build_cpu"]), "s", n, rep["build_cpu"]),
        "force_merge_s": (med(rep["fms"]), "s", n, rep["fms"]),
        "force_merge_cpu_s": (med(rep["fm_cpu"]), "s", n, rep["fm_cpu"]),
        "index_bytes_per_input_byte": (sum(rep["sizes"].values()) / rep["src_bytes"], "ratio", 1),
        "corpus_turns": (rep["n_docs"], "count", 1),
        "corpus_bytes": (rep["src_bytes"], "bytes", 1),
    }


def serving_layers(tr: Tracer) -> dict:
    search = [x * 1e3 for x in tr.durations("serving.search")]
    fetch = [x * 1e3 for x in tr.durations("serving.fetch")]
    return {
        "serving.search_ms.p50": med(search),
        "serving.search_ms.p95": pct(search, 95),
        "serving.fetch_ms.p50": med(fetch),
        "serving.fetch_ms.p95": pct(fetch, 95),
    }


class Serve:
    """Samples of the serving path (``LocalSearcher.search`` + ``fetch``)."""

    def __init__(self) -> None:
        self.lat_on: "list[float]" = []   # traced requests
        self.lat_off: "list[float]" = []  # untraced requests
        self.searches: "list[float]" = []
        self.pass_ms: "list[float]" = []      # mean request latency of each 1-client pass
        self.pass_cpu_ms: "list[float]" = []  # mean CPU ms a request of each 1-client pass
        self.qps: "list[float]" = []          # requests per second of each 4-client pass
        self.qps_cpu: "list[float]" = []      # requests per CPU second of each 4-client pass
        self.requests = 0

    def report(self) -> dict:
        ms = [x * 1e3 for x in self.lat_on + self.lat_off]
        n = len(self.pass_ms)
        out = {
            "serve_mean_ms": (med(self.pass_ms), "ms", n, self.pass_ms),
            "serve_cpu_ms": (med(self.pass_cpu_ms), "ms", n, self.pass_cpu_ms),
            "serve_p50_ms": (med(ms), "ms", len(ms)),
            "serve_p95_ms": (pct(ms, 95), "ms", len(ms)),
            "serve_search_p50_ms": (med(self.searches) * 1e3, "ms", len(self.searches)),
        }
        if self.qps:
            out["serve_qps"] = (med(self.qps), "req/s", len(self.qps), self.qps)
            out["serve4_per_cpu_s"] = (med(self.qps_cpu), "req/cpu_s", len(self.qps_cpu), self.qps_cpu)
        return out

    def overhead_ms(self) -> float:
        return (med(self.lat_on) - med(self.lat_off)) * 1e3 if self.lat_on else 0.0


def serve_pass(ctx: Ctx, sv: Serve, ls: LocalSearcher, queries, docs, what: str) -> None:
    """Closed loop, one client, one request for every query in ``queries``,
    in their order: a request is search + fetch, checked after its clock
    stops. In a traced run every other request runs with tracing off, so
    the run measures its own overhead."""
    tr = ctx.tracer
    enabled = tr.enabled
    lat, cpu = [], []
    for q in queries:
        i = sv.requests
        on = enabled and i % 2 == 1
        tr.enabled = on
        c, t = process_time(), now()
        with tr.span("client.request", request=i):
            with tr.span("serving.search"):
                hits = ls.search(q["q"], q["k"])
            sv.searches.append(now() - t)
            with tr.span("serving.fetch"):
                rows = ls.fetch(hits)
        lat.append(now() - t)
        cpu.append(process_time() - c)
        tr.enabled = enabled
        (sv.lat_on if on else sv.lat_off).append(lat[-1])
        ctx.tally.record(topk_matches(hits, q["hits"]) and fetch_matches(rows, hits, docs), what)
        sv.requests += 1
    sv.pass_ms.append(1e3 * sum(lat) / len(lat))
    sv.pass_cpu_ms.append(1e3 * sum(cpu) / len(cpu))


def serve_clients_pass(ctx: Ctx, sv: Serve, ls: LocalSearcher, queries, docs) -> None:
    """Closed loop, ``SERVE_CLIENTS`` threads that share one pass over
    ``queries``: client c sends the queries c, c + 4, ... Answers are
    checked after the clock."""
    def client(c: int) -> list:
        out = []
        for q in queries[c::SERVE_CLIENTS]:
            hits = ls.search(q["q"], q["k"])
            out.append((q, hits, ls.fetch(hits)))
        return out

    c, t = process_time(), now()
    with ThreadPoolExecutor(SERVE_CLIENTS) as ex:
        done = [r for f in [ex.submit(client, i) for i in range(SERVE_CLIENTS)] for r in f.result()]
    wall, cpu = now() - t, process_time() - c
    sv.qps.append(len(done) / wall)
    sv.qps_cpu.append(len(done) / cpu)
    for q, hits, rows in done:
        ctx.tally.record(topk_matches(hits, q["hits"]) and fetch_matches(rows, hits, docs), "serve4.topk")


# ------------------------------------------------------------------ warm-up
def warm_build(ctx: Ctx, warm_dir: str) -> None:
    """Take the JVM's and the Python workers' first-use costs on a tiny
    corpus: one build, force-merge and serving search + fetch. The tiny
    index stays for ``warm_cdc``."""
    src = os.path.join(warm_dir, "corpus.parquet")
    idx = os.path.join(ctx.work, "warm_idx")
    build_index(ctx.spark, ctx.spark.read.parquet(src), idx, n_partitions=8, n_buckets=4,
                resume=False, source_path=src, span_mb=4)
    force_merge_postings(ctx.spark, idx)
    ls = LocalSearcher(idx)
    ls.fetch(ls.search("ok hot1", 10))


# ---------------------------------------------------------------- search_mix
def open_search(ctx: Ctx, corpus_dir: str) -> dict:
    """Set-up: build, force-merge and open both searchers."""
    rep = set_up(ctx, os.path.join(corpus_dir, "corpus.parquet"), "search_idx")
    t = now()
    with ctx.tracer.span("serving.open"):
        rep["ls"] = LocalSearcher(rep["idx"])
    rep["serving_open_s"] = now() - t
    t = now()
    with ctx.tracer.span("wand.open"):
        rep["isr"] = IndexSearcher(ctx.spark, rep["idx"], route_budget=rep["n_docs"] // 4)
    rep["wand_open_s"] = now() - t
    rep["setup_s"] += rep["serving_open_s"] + rep["wand_open_s"]
    return rep


def warm_search(ctx: Ctx, rep: dict, corpus_dir: str) -> None:
    """Fill the caches and take the first-use costs before timing: one
    serving pass over the mix, and the query path's round of queries plus
    one on each leg (driver and distributed) with their Spark fetch."""
    queries = cost_spread(load_json(os.path.join(corpus_dir, "queries.json")))
    docs = read_corpus(os.path.join(corpus_dir, "corpus.parquet")).rename_axis("doc_id")
    with ctx.tracer.off():
        serve_pass(ctx, Serve(), rep["ls"], queries, docs, "serve.topk")
    isr = rep["isr"]
    light = next(q for q in queries if 0 < q["price"] <= isr.route_budget)
    heavy = next(q for q in queries if q["price"] > isr.route_budget)
    for q in [light, heavy, *queries[:QUERY_PATH_QUERIES]]:
        isr.fetch(isr.search(q["q"], q["k"])).collect()


def search_mix(ctx: Ctx, corpus_dir: str, rep: dict) -> dict:
    """Read-only. Rounds, for at least ``MIN_ROUNDS`` and until the run's
    seconds are up, of: one pass over the whole mix on the serving path with
    1 client, one shared by 4 clients, and the first ``QUERY_PATH_QUERIES``
    queries of the mix on the query path (IndexSearcher, route auto). Every
    loop walks the mix in ``cost_spread`` order, so the query path's few
    requests a round are the same spread of the mix's costs on every run;
    the searcher routes each request itself. Interleaving the loops keeps a
    burst of host noise from landing on one metric only."""
    queries = cost_spread(load_json(os.path.join(corpus_dir, "queries.json")))
    docs = read_corpus(os.path.join(corpus_dir, "corpus.parquet")).rename_axis("doc_id")
    ls, isr = rep["ls"], rep["isr"]
    tr = ctx.tracer
    budget = isr.route_budget
    dist_calls = []
    orig_dist = isr.search_distributed

    def counted_dist(query, k=10):
        dist_calls.append(1)
        return orig_dist(query, k)

    isr.search_distributed = counted_dist
    sv = Serve()
    lat, lat_drv, search_drv, search_dist, fetch_ms = [], [], [], [], []
    round_ms, round_cpu_ms = [], []
    rounds = 0
    t_end = now() + ctx.seconds
    try:
        while rounds < MIN_ROUNDS or now() < t_end:
            serve_pass(ctx, sv, ls, queries, docs, "serve.topk")
            serve_clients_pass(ctx, sv, ls, queries, docs)
            walls, cpus = [], []
            for j, q in enumerate(queries[:QUERY_PATH_QUERIES]):
                n_dist = len(dist_calls)
                c, t = tree_cpu_s(), now()
                with tr.span("client.request", request=100_000 + rounds * QUERY_PATH_QUERIES + j):
                    with tr.span("wand.search"):
                        hits = isr.search(q["q"], q["k"])
                    t1 = now()
                    with tr.span("wand.fetch"):
                        rows = isr.fetch(hits).collect()
                t2 = now()
                cpus.append(tree_cpu_s() - c)
                walls.append(t2 - t)
                fetch_ms.append((t2 - t1) * 1e3)
                if len(dist_calls) > n_dist:
                    search_dist.append((t1 - t) * 1e3)
                else:
                    search_drv.append((t1 - t) * 1e3)
                    lat_drv.append((t2 - t) * 1e3)
                rows = pd.DataFrame([r.asDict() for r in rows],
                                    columns=["doc_id", "score", "conv_id", "turn_idx", "role", "text"])
                ctx.tally.record(topk_matches(hits, q["hits"]) and fetch_matches(rows, hits, docs),
                                 "query.topk")
            lat += walls
            round_ms.append(1e3 * sum(walls) / len(walls))
            round_cpu_ms.append(1e3 * sum(cpus) / len(cpus))
            rounds += 1
    finally:
        isr.search_distributed = orig_dist

    query_ms = [x * 1e3 for x in lat]
    heavy_share = sum(q["price"] > budget for q in queries) / len(queries)
    layers = {
        **builder_layers(rep),
        "wand.open_s": rep["wand_open_s"],
        "wand.search_ms": med(search_drv),
        "wand.search_dist_ms": med(search_dist),
        "wand.fetch_ms": med(fetch_ms),
        "wand.dist_share": len(search_dist) / len(lat),
        "serving.open_s": rep["serving_open_s"],
        **serving_layers(tr),
        "serving.blocks": float(serving_blocks(rep["idx"])),
        "trace.overhead_ms": sv.overhead_ms(),
    }
    report = {
        **builder_report(rep),
        **sv.report(),
        "query_mean_ms": (med(round_ms), "ms", len(round_ms), round_ms),
        "query_cpu_ms": (med(round_cpu_ms), "ms", len(round_cpu_ms), round_cpu_ms),
        "query_p50_ms": (med(query_ms), "ms", len(query_ms)),
        "query_p90_ms": (pct(query_ms, 90), "ms", len(query_ms)),
        "query_driver_p50_ms": (med(lat_drv), "ms", len(lat_drv)),
        "query_dist_requests": (len(search_dist), "count", len(lat)),
        "mix_over_budget_share": (heavy_share, "ratio", len(queries)),
        "route_budget": (budget, "postings", 1),
        "rounds": (rounds, "count", 1),
    }
    return {"layers": layers, "report": report}


# ---------------------------------------------------------------- cdc_stream
def open_cdc(ctx: Ctx, cdc_dir: str) -> dict:
    """Set-up: build and force-merge the base index."""
    return set_up(ctx, os.path.join(cdc_dir, "base.parquet"), "cdc_idx")


def warm_cdc(ctx: Ctx, warm_dir: str) -> None:
    """First use of the stream and apply paths: one 200-row micro-batch
    into the tiny warm-up index."""
    idx = os.path.join(ctx.work, "warm_idx")
    run_increment_stream(ctx.spark, idx, os.path.join(warm_dir, "batches"),
                         checkpoint_dir=os.path.join(ctx.work, "warm_ckpt"))
    LocalSearcher(idx).search("ok", 10)


def cdc_stream(ctx: Ctx, cdc_dir: str, rep: dict) -> dict:
    """Drain the landed batches through run_increment_stream (one file per
    micro-batch), make ``cdc_serve_passes`` passes of serving requests over
    the segmented, tombstoned index after one untimed pass, then compact and check that the
    compacted index ranks the same."""
    spec = load_json(os.path.join(cdc_dir, "cdc.json"))
    queries = cost_spread(spec["queries"])
    live = pq.read_table(os.path.join(cdc_dir, "live.parquet")).to_pandas()
    seg_docs = live.set_index("doc_id")
    dense_docs = live.drop(columns="doc_id").rename_axis("doc_id")
    idx = rep["idx"]
    tr = ctx.tracer
    bytes_before = dir_bytes(idx)

    applies: "list[dict]" = []
    orig_apply = stream_mod.apply_increments
    drain_span: "list[dict | None]" = [None]

    def timed_apply(spark, index_dir, increments):
        # foreachBatch runs on the py4j callback thread
        c, t = tree_cpu_s(), now()
        with tr.span("incremental.apply", parent=drain_span[0]):
            out = orig_apply(spark, index_dir, increments)
        applies.append({"wall": now() - t, "cpu": tree_cpu_s() - c,
                        "laps": out.get("stage_walls") or {}})
        return out

    stream_mod.apply_increments = timed_apply
    try:
        c, t = tree_cpu_s(), now()
        with tr.span("stream.drain") as drain_span[0]:
            q = run_increment_stream(ctx.spark, idx, os.path.join(cdc_dir, "batches"),
                                     checkpoint_dir=os.path.join(ctx.work, "cdc_ckpt"))
        drain, drain_cpu = now() - t, tree_cpu_s() - c
    finally:
        stream_mod.apply_increments = orig_apply
    progress = sorted((p for p in q.recentProgress if p["numInputRows"] > 0), key=lambda p: p["batchId"])
    commits = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
    meta = read_index_meta(idx)
    n_batches = len(spec["batches"])
    for _ in range(n_batches):
        ctx.tally.record(len(commits) == n_batches and len(meta.get("segments", [])) == n_batches,
                         "cdc.commit")
    rows = sum(b["rows"] for b in spec["batches"])

    t = now()
    with tr.span("serving.open"):
        ls = LocalSearcher(idx)
    serving_open = now() - t
    with tr.off():  # warm-up
        serve_pass(ctx, Serve(), ls, queries, seg_docs, "cdc.serve.topk")
    sv = Serve()
    for _ in range(ctx.sizes["cdc_serve_passes"]):
        serve_pass(ctx, sv, ls, queries, seg_docs, "cdc.serve.topk")

    out_dir = os.path.join(ctx.work, "compacted")
    c, t = tree_cpu_s(), now()
    with tr.span("compact.run"):
        res = compact(ctx.spark, idx, out_dir)
    compact_s, compact_cpu = now() - t, tree_cpu_s() - c
    walls = stage_walls(out_dir)
    cls = LocalSearcher(out_dir)
    ok = True
    for qq in queries:
        hits = cls.search(qq["q"], qq["k"])
        # same live corpus, re-densified ids: same scores, same order
        ok &= topk_matches(hits, qq["hits_compacted"])
    ok &= fetch_matches(cls.fetch(hits), hits, dense_docs)
    ctx.tally.record(ok, "compact.ranking")

    by_shape: "dict[str, list]" = {"clustered": [], "uniform": []}
    for a, b in zip(applies, spec["batches"]):
        by_shape[b["shape"]].append(a["laps"].get("join_and_tombstones", 0.0))
    apply_s = [a["wall"] for a in applies]
    apply_cpu = [a["cpu"] for a in applies]
    layers = {
        **builder_layers(rep),
        "serving.open_s": serving_open,
        **serving_layers(tr),
        "serving.blocks": float(serving_blocks(idx)),
        "stream.drain_s": drain,
        "stream.self_s": drain - sum(apply_s),
        "incremental.apply_s": med(apply_s),
        "incremental.join_s.clustered": med(by_shape["clustered"]),
        "incremental.join_s.uniform": med(by_shape["uniform"]),
        "incremental.term_deltas_s": med([a["laps"].get("term_deltas_and_stats", 0.0) for a in applies]),
        "incremental.delta_postings_s": med([a["laps"].get("delta_postings", 0.0) for a in applies]),
        "incremental.segments": float(len(meta.get("segments", []))),
        "incremental.bytes_written": float(dir_bytes(idx) - bytes_before),
        "compact.live_splice_s": walls.get("live_splice.wall_s", walls.get("live_sort.wall_s", 0.0)),
        "compact.rebuild_s": walls.get("build.wall_s", 0.0),
        "compact.spliced": 1.0 if res.get("live_spliced") else 0.0,
        "trace.overhead_ms": sv.overhead_ms(),
    }
    report = {
        **builder_report(rep),
        "cdc_rows_per_s": (rows / drain, "rows/s", n_batches),
        "cdc_rows_per_cpu_s": (rows / drain_cpu, "rows/cpu_s", n_batches),
        "cdc_commit_p50_s": (med(commits), "s", len(commits), commits),
        "cdc_apply_cpu_s": (med(apply_cpu), "s", len(apply_cpu), apply_cpu),
        "compact_s": (compact_s, "s", 1),
        "compact_cpu_s": (compact_cpu, "s", 1),
        **sv.report(),
        "batch_rows": (rows, "count", n_batches),
        "live_docs_after": (spec["live_docs"], "count", 1),
    }
    return {"layers": layers, "report": report}
