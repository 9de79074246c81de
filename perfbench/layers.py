"""Per-layer measurements for the traced run.

Each function times the benchmark's own calls into one layer's public
functions and returns ``{metric name: value}``.  Nothing here changes engine
code; spans are recorded around the calls by the caller's ``Tracer``.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import common

REPS = 5

BUILDER_PHASES = ("plan_phase1", "doc_stats", "term_stats", "term_dim", "segments", "manifest")
INGEST_PHASES = (
    "preamble", "ids_plan", "tokenize", "doc_stats", "doc_agg", "term_stats",
    "vocab", "encode", "lineage", "commit", "stats_refresh",
)


def _median_wall(fn, reps: int = REPS) -> float:
    """Median wall of ``reps`` calls of ``fn``."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return common.median(walls)


def analysis_layer(keywords: list[str]) -> dict[str, float]:
    import pandas as pd

    from search_engine_spark.analysis.text import extract_text_series, preprocess_query
    from search_engine_spark.fixtures.webtext import generate_rows

    html = pd.Series(generate_rows(0, 2000)["html"])
    t_extract = _median_wall(lambda: extract_text_series(html))
    t_pre = _median_wall(lambda: [preprocess_query(k) for k in keywords])
    return {
        "analysis.extract_docs_per_s": len(html) / t_extract,
        "analysis.preprocess_query_us": t_pre / len(keywords) * 1e6,
    }


def codec_layer(npz_path: str, n_terms: int) -> dict[str, float]:
    from search_engine_spark.index.codec import (
        decode_position_lists,
        decode_postings,
        encode_position_lists,
        encode_postings,
    )

    z = np.load(npz_path)
    lists = [(z[f"doc_ids_{i}"], z[f"tfs_{i}"], z[f"dls_{i}"], z[f"positions_{i}"])
             for i in range(n_terms)]
    enc = [encode_postings(d, t, l) for d, t, l, _ in lists]
    pos = [encode_position_lists(p, t) for _, t, _, p in lists]
    mb = sum(len(b) for b in enc) / 1e6
    pos_mb = sum(len(b) for b in pos) / 1e6
    postings = sum(len(d) for d, _, _, _ in lists)
    t_enc = _median_wall(lambda: [encode_postings(d, t, l) for d, t, l, _ in lists])
    t_dec = _median_wall(lambda: [decode_postings(b) for b in enc])
    t_pos = _median_wall(lambda: [decode_position_lists(b, t) for b, (_, t, _, _) in zip(pos, lists)])
    return {
        "codec.decode_mb_per_s": mb / t_dec,
        "codec.positions_decode_mb_per_s": pos_mb / t_pos,
        "codec.encode_mb_per_s": mb / t_enc,
        "codec.bytes_per_posting": sum(len(b) for b in enc) / postings,
    }


def dictionary_layer(sf, terms: list[str], prefixes: list[str], typos: list[str]) -> dict[str, float]:
    """Direct term-dictionary calls; each typo is fresh, so the engine's
    fuzzy-expansion memo is cold for every call."""
    half = len(typos) // 2

    def per_call_us(fn, args):
        t0 = time.perf_counter()
        for a in args:
            fn(a)
        return (time.perf_counter() - t0) / len(args) * 1e6

    return {
        "engine.term_dfs_us": per_call_us(lambda t: sf.term_dfs([t]), terms),
        "engine.expand_prefix_us": per_call_us(sf.expand_prefix, prefixes),
        "engine.expand_fuzzy_us": per_call_us(lambda t: sf.expand_fuzzy(t, 1), typos[:half]),
        "engine.suggest_us": per_call_us(lambda t: sf.suggest(t, fuzzy=1), typos[half:]),
    }


def _phase_metrics(prefix: str, phases: tuple, spans: list[dict]) -> dict[str, float]:
    """Sum phase child spans into ``<prefix>.<phase>_s``; the builder's
    per-wave phases fold into ``segments``, unknown phases into ``other``."""
    out = {f"{prefix}.{p}_s": 0.0 for p in phases}
    out[f"{prefix}.other_s"] = 0.0
    for sp in spans:
        key = sp["name"].split(".", 1)[1]
        name = "segments" if prefix == "builder" and key.endswith("_segments") else key
        slot = f"{prefix}.{name}_s"
        out[slot if slot in out else f"{prefix}.other_s"] += sp["end"] - sp["start"]
    return out


def _phase_spans(tracer, parent, prefix: str, start: float, phase_sec: dict) -> None:
    """``phase_sec`` entries become consecutive child spans of ``parent``."""
    t = start
    for key, sec in phase_sec.items():
        tracer.add(f"{prefix}.{key}", t, t + float(sec), parent=parent)
        t += float(sec)


def write_path_layer(spark, groups, tracer, seed: int, cfg_kwargs: dict) -> tuple[dict, int, int]:
    """Build one per-seed slice with ``build_index``, ingest the same slice as
    three url-ordered generations with ``ingest_batch``, then check a fixed
    query set rank-identical between the two indexes and the oracle.

    Returns (metrics, checks attempted, checks failed)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from search_engine_spark.fixtures.webtext import generate_rows
    from search_engine_spark.index.builder import BuildConfig, build_index
    from search_engine_spark.oracle import OracleIndex
    from search_engine_spark.query.engine import SearchEngine
    from search_engine_spark.streaming.ingest import ingest_batch

    import fixture
    import queries

    work = os.path.join(common.WORK, "write-path")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rows = generate_rows(common.BUILD_BASE + seed * common.BUILD_DOCS, common.BUILD_DOCS)
    order = np.argsort(np.array(rows["url"], dtype=object), kind="stable")
    table = pa.table({
        "url": rows["url"], "html": pa.array(rows["html"], pa.binary()), "lang": rows["lang"],
        "n_chars": pa.array([len(t) for t in rows["text"]], pa.int64()),
    }).take(pa.array(order))
    corpus = os.path.join(work, "corpus")
    os.makedirs(corpus)
    pq.write_table(table, os.path.join(corpus, "part-0.parquet"))
    cfg = BuildConfig(**cfg_kwargs)
    n = common.BUILD_DOCS

    batch_dir = os.path.join(work, "batch")
    gid = groups.enter("build_index")
    with tracer.span("builder.build_index") as sp:
        t0 = time.perf_counter()
        built = build_index(spark, corpus, batch_dir, cfg=cfg)
        t_build = time.perf_counter() - t0
    groups.leave()
    build_span = sp.id
    _phase_spans(tracer, build_span, "builder", sp.start, built["phase_sec"])
    groups.settle([gid])
    bc = groups.counts(gid)

    grown_dir = os.path.join(work, "grown")
    walls, ingest_spans = [], []
    cuts = [0, n // 3, 2 * n // 3, n]
    for g in range(3):
        gen_path = os.path.join(work, f"gen{g}")
        os.makedirs(gen_path)
        pq.write_table(table.slice(cuts[g], cuts[g + 1] - cuts[g]),
                       os.path.join(gen_path, "part-0.parquet"))
        part = spark.read.parquet(gen_path)
        with tracer.span("ingest.ingest_batch", gen=g) as sp:
            t0 = time.perf_counter()
            res = ingest_batch(spark, part, grown_dir, epoch=g, cfg=cfg)
            walls.append(time.perf_counter() - t0)
        _phase_spans(tracer, sp.id, "ingest", sp.start, res.phase_sec or {})
        ingest_spans += tracer.children(sp.id)

    # rank identity: grown vs batch vs oracle on a fixed query set
    oracle = OracleIndex(list(zip(rows["url"], rows["text"])))
    df_band = sorted(t for t, pl in oracle.postings.items()
                     if 0.005 * n <= len(pl) <= 0.05 * n and t.isalpha())
    step = max(1, len(df_band) // 8)
    terms = df_band[::step][:8]
    kws = [f"{a} {b}" for a, b in zip(terms, terms[1:])] + [t[:4] for t in terms[:4]]
    batch = SearchEngine(spark, batch_dir)
    grown = SearchEngine(spark, grown_dir)
    attempted = failed = 0
    for kw in kws:
        exp = fixture.oracle_answer(oracle.search(kw, k=queries.K))
        for eng in (batch, grown):
            attempted += 1
            try:
                ok = queries.same(queries.page_answer(eng.search(kw, k=queries.K)), exp)
            except Exception:
                ok = False
            failed += not ok

    metrics = _phase_metrics("builder", BUILDER_PHASES, tracer.children(build_span))
    metrics.update({
        "builder.spark_jobs": bc["jobs"],
        "builder.spark_tasks": bc["tasks"],
        "builder.spark_failed_tasks": bc["failed_tasks"],
        "builder.docs_per_s": n / t_build,
        "builder.bytes_per_doc": built["total_bytes"] / built["n_docs"],
    })
    metrics.update(_phase_metrics("ingest", INGEST_PHASES, ingest_spans))
    metrics["ingest.docs_per_s"] = n / sum(walls)
    metrics["ingest.last_gen_over_first"] = walls[-1] / walls[0]
    shutil.rmtree(work, ignore_errors=True)
    return metrics, attempted, failed
