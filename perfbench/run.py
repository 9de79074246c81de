"""Repository benchmark: serving workloads on the Spark search engine.

    python3 perfbench/run.py --workload serve_tail --seed 1 --seconds 10 --trace 0

Workloads (closed loop, ``local[<cpus>]``, one process):

- ``serve_tail``: 2 clients (the reference's two gunicorn workers) send
  tail-term queries that take the driver fast path: 2-term OR, conjunctive,
  prefix autocomplete, fuzzy=1, suggest, skip=10 page, exact phrase and
  multi-field should/must.
- ``serve_head``: 1 client sends head+tail queries pinned
  ``force_distributed=True``: sort, WAND (approx and exact total), auto,
  distributed phrase, doc-values filter, field sort, lang facets and a
  multi-field should + doc-values filter.  Runs whole cycles of all nine
  shapes until ``--seconds`` have passed.

Both serve a single-field positional index and a (title, body) multi-field
index with doc values (lang, n_chars), built once per source tree by
``fixture.py``.  Every answer is checked against ``search_engine_spark.oracle``
(precomputed in the fixture, outside the timed region).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics from a traced run: both query mixes with spans and per-call
Spark accounting, direct calls into analysis, codec and the term dictionary,
and one build + three-generation ingest of a per-seed slice.  The last line
of stdout is the result JSON; the line before it holds run context (clock
probe, seed, slice, clients, fixture build time).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import queries  # noqa: E402

WORKLOADS = {"serve_tail": {"clients": 2}, "serve_head": {"clients": 1}}
# set-ups after the first, which launches the JVM; setup_s and its layers
# (session.get_spark_s, engine.open_s) are medians over these warm restarts
WARM_SETUPS = 2
# one cycle of nine head shapes is too few samples for a steady median
HEAD_MIN_CYCLES = 2
PROBE_N = 5_000_000
WRITE_CFG = dict(
    block_docs=128, target_ranges=8, min_range_docs=256, n_partitions=4, waves=1,
    positions=True, docvalues_cols=("lang", "n_chars"),
)


class Engines:
    """A Spark session plus the two serve engines, opened as one set-up."""

    def __init__(self, fixture: str, warmup: list[dict]):
        from search_engine_spark.query.engine import SearchEngine

        t0 = time.perf_counter()
        self.spark = common.start_spark()
        t1 = time.perf_counter()
        self.sf = SearchEngine(self.spark, os.path.join(fixture, "sf_index"))
        self.mf = SearchEngine(self.spark, os.path.join(fixture, "mf_index"))
        t2 = time.perf_counter()
        for q in warmup:
            queries.execute(q, self.sf, self.mf)
        t3 = time.perf_counter()
        self.get_spark_s, self.open_s, self.setup_s = t1 - t0, t2 - t1, t3 - t0


def set_up(fixture: str, warmup: list[dict]) -> tuple[Engines, Engines, list[Engines]]:
    """Set up once cold (launching the JVM), then ``WARM_SETUPS`` times warm
    (stop the session, start a fresh one in the same JVM).  Returns (the
    engines to serve with, the cold set-up, the warm set-ups)."""
    reps = [Engines(fixture, warmup)]
    for _ in range(WARM_SETUPS):
        reps[-1].spark.stop()
        reps.append(Engines(fixture, warmup))
    return reps[-1], reps[0], reps[1:]


def run_window(eng: Engines, groups, tracers, workload: str, stream, seconds: float,
               min_cycles: int = HEAD_MIN_CYCLES) -> dict:
    """Closed loop: each client sends its next query when the last returns.

    serve_tail stops taking queries at the deadline; serve_head runs whole
    cycles, at least ``min_cycles``, until the deadline has passed.  Call i
    records its span with ``tracers[i % len(tracers)]``.  Returns the per-call
    records and the window wall."""
    records: list[dict] = []
    lock = threading.Lock()
    clients = WORKLOADS[workload]["clients"]
    t_start = time.perf_counter()
    deadline = t_start + seconds
    issued = [0]

    def call(q):
        with lock:
            tracer = tracers[issued[0] % len(tracers)]
            issued[0] += 1
        gid = groups.enter(q["kind"])
        with tracer.span(f"query.{q['kind']}", qid=q["id"]):
            t0 = time.perf_counter()
            try:
                got, err = queries.execute(q, eng.sf, eng.mf), None
            except Exception as e:  # counted as a failure, never raised
                got, err = None, f"{type(e).__name__}: {e}"
            t1 = time.perf_counter()
        groups.leave()
        rec = {"q": q, "got": got, "err": err, "t0": t0, "t1": t1, "gid": gid,
               "traced": tracer.enabled}
        with lock:
            records.append(rec)

    def tail_client():
        while time.perf_counter() < deadline:
            with lock:
                q = next(stream)
            call(q)

    def head_client():
        cycles = 0
        while cycles < min_cycles or time.perf_counter() < deadline:
            for q in next(stream):
                call(q)
            cycles += 1

    target = tail_client if workload == "serve_tail" else head_client
    threads = [threading.Thread(target=target) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = max(r["t1"] for r in records) - t_start
    return {"records": records, "wall": wall}


def stream_for(workload: str, pools: dict, seed: int):
    if workload == "serve_tail":
        return queries.tail_stream(pools["tail"], seed)
    return queries.head_cycles(pools["head"], seed)


def check(records: list[dict], answers: dict, plant_error: bool) -> int:
    """Count exceptions plus wrong answers.  ``plant_error`` corrupts the first
    answer first (the benchmark's self-test)."""
    if plant_error and records and records[0]["got"] is not None:
        got = dict(records[0]["got"])
        if "term" in got:
            got["term"] = (got["term"] or "") + "x"
        else:
            got["total"] += 1
        records[0]["got"] = got
    failed = 0
    for r in records:
        if r["err"] is not None or not queries.same(r["got"], answers[r["q"]["id"]]):
            failed += 1
            print(f"wrong answer: {r['q']['id']}: {r['err'] or r['got']}", file=sys.stderr)
    return failed


def latency_ms(records: list[dict]) -> list[float]:
    return [(r["t1"] - r["t0"]) * 1000.0 for r in records]


def end_to_end(warm, window, driver_mem_mb) -> dict:
    lat = latency_ms(window["records"])
    return {
        "setup_s": (common.median([e.setup_s for e in warm]), "s"),
        "latency_p50_ms": (common.median(lat), "ms"),
        "qps": (len(lat) / window["wall"], "1/s"),
        "driver_mem_mb": (driver_mem_mb, "MB"),
    }


def per_kind(window: dict, groups, tracer) -> tuple[dict, int]:
    """Per query shape: p50 of its ``query.<kind>`` spans and the median Spark
    jobs/stages/tasks of its calls (one job group each).  Returns (metrics,
    failed Spark tasks over the window)."""
    recs = window["records"]
    groups.settle([r["gid"] for r in recs])
    out, failed_tasks = {}, 0
    for kind in sorted({r["q"]["kind"] for r in recs}):
        counts = [groups.counts(r["gid"]) for r in recs if r["q"]["kind"] == kind]
        span_ms = [d * 1000.0 for d in tracer.durations(f"query.{kind}")]
        out[f"query.{kind}.p50_ms"] = (common.median(span_ms), "ms")
        for key in ("jobs", "stages", "tasks"):
            out[f"spark.{kind}.{key}"] = (common.median([c[key] for c in counts]), "count")
        failed_tasks += sum(c["failed_tasks"] for c in counts)
    return out, failed_tasks


_UNITS = (  # longest suffix first
    ("bytes_per_posting", "B"), ("bytes_per_doc", "B"), ("_over_first", "ratio"),
    ("docs_per_s", "docs/s"), ("mb_per_s", "MB/s"), ("_us", "us"), ("_s", "s"),
)


def _unit(name: str) -> str:
    return next((u for suf, u in _UNITS if name.endswith(suf)), "count")


def traced_layers(args, eng, warm, fixture, meta, groups, tracer, untraced) -> tuple[dict, dict, int, int]:
    """The traced run's per-layer metrics; returns (metrics, the window of
    ``args.workload``, attempted, failed)."""
    import layers

    pools, answers = meta["pools"], meta["expected"]
    metrics: dict = {}
    attempted = failed = failed_tasks = 0
    windows = {}
    for wl in ("serve_tail", "serve_head"):
        stream = stream_for(wl, pools, args.seed)
        expect = answers[wl.split("_")[1]]
        if wl == "serve_tail":
            # tail calls alternate traced and untraced, so the overhead
            # compares calls made under the same conditions
            w = run_window(eng, groups, (tracer, untraced), wl, stream, args.seconds)
        else:
            # one untraced cycle first, so no traced head shape pays the cold
            # cost of its Spark path
            pre = run_window(eng, groups, (untraced,), wl, stream, 0.0, min_cycles=1)
            attempted += len(pre["records"])
            failed += check(pre["records"], expect, False)
            failed_tasks += per_kind(pre, groups, untraced)[1]
            w = run_window(eng, groups, (tracer,), wl, stream, 0.0)
        windows[wl] = w
        attempted += len(w["records"])
        failed += check(w["records"], expect, args.plant_error and wl == args.workload)
    # per shape, so the traced and untraced halves weigh shapes alike
    ratios = []
    for kind in queries.TAIL_KINDS:
        rs = [r for r in windows["serve_tail"]["records"] if r["q"]["kind"] == kind]
        on = latency_ms([r for r in rs if r["traced"]])
        off = latency_ms([r for r in rs if not r["traced"]])
        if on and off:
            ratios.append(common.median(on) / common.median(off))
    for w in windows.values():
        kinds, n_failed = per_kind(w, groups, tracer)
        metrics.update(kinds)
        failed_tasks += n_failed
    metrics["trace.overhead_pct"] = ((common.median(ratios) - 1.0) * 100.0, "%")
    metrics["session.get_spark_s"] = (common.median([e.get_spark_s for e in warm]), "s")
    metrics["engine.open_s"] = (common.median([e.open_s for e in warm]), "s")

    import numpy as np

    rng = np.random.default_rng(args.seed)
    tail_terms = sorted({t for q in pools["tail"] if q["kind"] == "or2" for t in q["args"]["kw"].split()})
    prefixes = [q["args"]["kw"] for q in pools["tail"] if q["kind"] == "prefix"]
    typos = []
    for t in rng.choice(tail_terms, size=8, replace=False):
        i = int(rng.integers(len(t)))
        # insertions, where the pool's typos are substitutions: every call
        # misses the engine's fuzzy-expansion memo
        typos.append(t[:i] + "q" + t[i:])
    with tracer.span("layer.dictionary"):
        layer = layers.dictionary_layer(eng.sf, tail_terms, prefixes, typos)
    with tracer.span("layer.analysis"):
        keywords = [q["args"]["kw"] for pool in pools.values() for q in pool if "kw" in q["args"]]
        layer.update(layers.analysis_layer(keywords))
    with tracer.span("layer.codec"):
        layer.update(layers.codec_layer(os.path.join(fixture, "codec.npz"), len(meta["codec_terms"])))
    with tracer.span("layer.write_path"):
        wp, a, f = layers.write_path_layer(eng.spark, groups, tracer, args.seed, WRITE_CFG)
    layer.update(wp)
    failed_tasks += layer.pop("builder.spark_failed_tasks")
    attempted += a
    failed += f
    for k, v in layer.items():
        metrics[k] = (v, _unit(k))
    metrics["spark.failed_tasks"] = (failed_tasks, "count")
    return metrics, windows[args.workload], attempted, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-error", action="store_true",
                    help="corrupt one answer before checking (self-test)")
    args = ap.parse_args(argv)

    if not os.path.isdir(common.PACKAGE):
        print(f"search_engine_spark not found under {common.ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    common.setup_environment()
    import fixture as fixture_mod
    from search_engine_spark.benchutil import clock_probe

    probe_start = clock_probe(PROBE_N)
    fixture, fixture_s = fixture_mod.ensure()
    with open(os.path.join(fixture, "fixture.json")) as fh:
        meta = json.load(fh)
    pools, answers = meta["pools"], meta["expected"]
    run_id = f"{args.workload}-{args.seed}-{int(time.time())}"

    try:
        # warm-up: one query per engine (set-up work every client pays)
        warmup = [next(q for q in pools["tail"] if q["kind"] == k) for k in ("or2", "mf")]
        eng, cold, warm = set_up(fixture, warmup)
        groups = common.JobGroups(eng.spark)
        untraced = common.Tracer(False, run_id)
        if args.trace:
            # the traced run serves both mixes itself and reports no
            # end-to-end metric
            tracer = common.Tracer(True, run_id)
            metrics, window, attempted, failed = traced_layers(
                args, eng, warm, fixture, meta, groups, tracer, untraced)
            tracer.write(os.path.join(common.WORK, "traces", run_id + ".jsonl"))
        else:
            stream = stream_for(args.workload, pools, args.seed)
            window = run_window(eng, groups, (untraced,), args.workload, stream, args.seconds)
            attempted = len(window["records"])
            failed = check(window["records"], answers[args.workload.split("_")[1]],
                           args.plant_error)
        peak_py, held_jvm = common.vm_hwm_mb(), common.jvm_retained_mb(eng.spark)
        hwm_jvm = common.vm_hwm_mb(common.jvm_pid(eng.spark))
        if not args.trace:
            metrics = end_to_end(warm, window, peak_py + held_jvm)
    finally:
        common.shutdown_jvm()
    probe_end = clock_probe(PROBE_N)

    lat = sorted(latency_ms(window["records"]))
    context = {
        "workload": args.workload, "seed": args.seed, "clients": WORKLOADS[args.workload]["clients"],
        "slice": {"start": meta["start"], "docs": meta["docs"]},
        "clock_probe_mips": [probe_start, probe_end],
        "fixture_build_s": round(fixture_s, 3),
        "samples": len(lat),
        "cold_setup_s": round(cold.setup_s, 4),
        "warm_setup_s": [round(e.setup_s, 4) for e in warm],
        "memory_mb": {"python_hwm": round(peak_py, 1), "jvm_retained": round(held_jvm, 1),
                      "jvm_hwm": round(hwm_jvm, 1)},
    }
    if len(lat) >= 100:  # p90 only with >= 10 samples beyond it
        context["latency_p90_ms"] = common.percentile(lat, 90)
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
