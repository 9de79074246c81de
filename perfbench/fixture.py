"""Serve fixture: the two serve indexes, the query pools and their oracle
answers, built once per source tree and cached on disk.

Run as its own process (``python3 perfbench/fixture.py``) so the oracle's
memory never counts toward the benchmark's memory metric.  The cache key hashes
the ``search_engine_spark/`` sources, this benchmark's fixture, query and
environment code (``fixture.py``, ``queries.py``, ``common.py``), the slice
and the build configs, so two source trees never share an index.

The serve slice is fixed (``SERVE_START``/``SERVE_DOCS``) rather than drawn
from the run seed: one build of both indexes plus their oracle answers costs
minutes of fixed Spark overhead, more than a benchmark run can spend on every
seed.  The run seed draws the query stream from the pools instead.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time
from collections import Counter

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
from queries import HEAD_KINDS, HEAD_TERMS, K, POOL_SEED, TAIL_KINDS  # noqa: E402

TITLE_LEN = 6
# as tests/test_docvalues.py: en-heavy by url hash, ~10% null lang
LANGS = ("en", "en", "de", "fr", "en", "en", "de", "fr", "en", None)

SF_CONFIG = dict(
    block_docs=128, target_ranges=32, min_range_docs=512, n_partitions=8, waves=2,
    positions=True, docvalues_cols=("lang", "n_chars"),
)
MF_CONFIG = dict(
    block_docs=128, target_ranges=32, min_range_docs=512, n_partitions=8, waves=2,
    field_cols=("title", "body"), docvalues_cols=("lang", "n_chars"),
)
CODEC_TERMS = 6  # head and tail terms whose postings feed the codec layer
PER_TAIL_KIND = 40
PER_HEAD_KIND = 12


def oracle_answer(r) -> dict:
    return {"total": int(r.total), "hits": [[int(d), float(s)] for d, s in r.hits]}


def _passes(attrs, d, a) -> bool:
    lang, n_chars = attrs[d]
    return lang == a["lang"] and n_chars is not None and a["lo"] <= n_chars < a["hi"]


def expected(q: dict, osf, omf, sf_attrs, mf_attrs) -> dict:
    """The oracle's answer for ``q`` (``*_attrs``: doc_id -> (lang, n_chars))."""
    kind, a = q["kind"], q["args"]
    if kind in ("or2", "prefix", "sort", "wand_exact", "auto"):
        return oracle_answer(osf.search(a["kw"], k=K))
    if kind == "and2":
        return oracle_answer(osf.search(a["kw"], k=K, conjunctive=True))
    if kind == "page":
        return oracle_answer(osf.search(a["kw"], k=K, skip=10))
    if kind == "fuzzy":
        return oracle_answer(osf.search_fuzzy(a["kw"], k=K, fuzzy=1))
    if kind == "suggest":
        return {"term": osf.suggest(a["kw"], fuzzy=1)}
    if kind in ("phrase", "phrase_dist"):
        return oracle_answer(osf.search_phrase(a["kw"], k=K))
    if kind == "mf":
        return oracle_answer(omf.search_compound(
            must=[tuple(c) for c in a["must"]], should=[tuple(c) for c in a["should"]], k=K))
    if kind == "wand_approx":
        # WAND's approx total: the Σdf upper bound over the present terms,
        # capped at N (a lone present term's total is its exact df)
        page = oracle_answer(osf.search(a["kw"], k=K))
        from search_engine_spark.analysis.text import preprocess_query

        dfs = [len(osf.postings[t]) for t in set(preprocess_query(a["kw"])) if t in osf.postings]
        page["total"] = dfs[0] if len(dfs) == 1 else min(sum(dfs), osf.n_docs)
        return page
    if kind == "dv_filter":
        full = osf.search(a["kw"], k=osf.n_docs)
        hits = [(d, s) for d, s in full.hits if _passes(sf_attrs, d, a)]
        return {"total": len(hits), "hits": [[d, s] for d, s in hits[:K]]}
    if kind == "sort_field":
        full = osf.search(a["kw"], k=osf.n_docs)
        hits = sorted(full.hits, key=lambda h: h[0])
        hits.sort(key=lambda h: sf_attrs[h[0]][1], reverse=True)  # stable: doc_id asc ties
        return {"total": full.total, "hits": [[d, s] for d, s in hits[:K]]}
    if kind == "facet":
        full = osf.search(a["kw"], k=osf.n_docs)
        c = Counter(sf_attrs[d][0] for d, _ in full.hits if sf_attrs[d][0] is not None)
        buckets = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        return {"total": full.total, "buckets": [[b, n] for b, n in buckets]}
    if kind == "mf_dv":
        full = omf.search_compound(should=[tuple(c) for c in a["should"]], k=omf.n_docs)
        hits = [(d, s) for d, s in full.hits if _passes(mf_attrs, d, a)]
        return {"total": len(hits), "hits": [[d, s] for d, s in hits[:K]]}
    raise ValueError(f"unknown query kind {kind!r}")


def build_pools(osf, texts_by_doc: list[str], sf_attrs, mf_langs) -> dict[str, list[dict]]:
    """Fixed query pools drawn from the serve corpus (``POOL_SEED``).

    ``texts_by_doc``: each document's text, indexed by doc_id.  Tail terms
    have a document frequency between 0.3% and 3% of the corpus."""
    from search_engine_spark.analysis.text import tokenize

    rng = np.random.default_rng(POOL_SEED)
    n = osf.n_docs
    tail = sorted(
        t for t, pl in osf.postings.items()
        if 0.003 * n <= len(pl) <= 0.03 * n and t.isalpha() and len(t) >= 4
    )
    tail_set = set(tail)
    head = HEAD_TERMS
    n_chars = sorted(v for _, v in sf_attrs.values())

    def doc_tokens():
        return tokenize(texts_by_doc[int(rng.integers(n))])

    def cooccurring():
        """Two distinct tail terms of one document."""
        while True:
            ts = sorted(set(doc_tokens()) & tail_set)
            if len(ts) >= 2:
                i, j = sorted(rng.choice(len(ts), size=2, replace=False))
                return ts[i], ts[j]

    def adjacent(ok):
        """Two consecutive tokens of one document accepted by ``ok``."""
        while True:
            toks = doc_tokens()
            cands = [(x, y) for x, y in zip(toks, toks[1:]) if ok(x, y)]
            if cands:
                return cands[int(rng.integers(len(cands)))]

    def tail_tail(x, y):
        return x in tail_set and y in tail_set and x != y

    def head_tail(x, y):
        return x in head and y in tail_set

    def tail_head(x, y):
        return x in tail_set and y in head

    def typo(t: str) -> str:
        i = int(rng.integers(len(t)))
        alpha = "abcdefghijklmnopqrstuvwxyz".replace(t[i], "")
        return t[:i] + alpha[int(rng.integers(len(alpha)))] + t[i + 1:]

    def prefix() -> str:
        while True:
            p = tail[int(rng.integers(len(tail)))][:4]
            if 1 <= len(osf.expand_prefix(p)) <= 40:
                return p

    def band() -> dict:
        lo_q = float(rng.uniform(0.1, 0.5))
        lo = n_chars[int(lo_q * (len(n_chars) - 1))]
        hi = n_chars[int(min(lo_q + float(rng.uniform(0.2, 0.45)), 1.0) * (len(n_chars) - 1))]
        return {"lo": int(lo), "hi": int(hi) + 1}

    def pick(seq):
        return seq[int(rng.integers(len(seq)))]

    tail_pool, head_pool = [], []
    for kind in TAIL_KINDS:
        seen = set()
        while len(seen) < PER_TAIL_KIND:
            if kind in ("or2", "and2", "page"):
                args = {"kw": " ".join(cooccurring())}
            elif kind == "prefix":
                args = {"kw": prefix()}
            elif kind in ("fuzzy", "suggest"):
                args = {"kw": typo(pick(tail))}
            elif kind == "phrase":
                args = {"kw": " ".join(adjacent(tail_tail))}
            else:  # mf: alternate should-only and must+should shapes
                t1, t2 = cooccurring()
                if len(seen) % 2:
                    args = {"must": [], "should": [["title", t1], ["body", t1]]}
                else:
                    args = {"must": [["body", t1]], "should": [["title", t2], ["body", t2]]}
            key = repr(sorted(args.items()))
            if key in seen:
                continue
            seen.add(key)
            tail_pool.append({"id": f"{kind}-{len(seen) - 1}", "kind": kind, "args": args})
    langs_sf = sorted({lang for lang, _ in sf_attrs.values() if lang is not None})
    for kind in HEAD_KINDS:
        seen = set()
        while len(seen) < PER_HEAD_KIND:
            kw = f"{pick(tail)} {pick(head)}"
            if kind == "phrase_dist":
                args = {"kw": " ".join(adjacent(head_tail if len(seen) % 2 else tail_head))}
            elif kind == "dv_filter":
                args = {"kw": kw, "lang": "en" if len(seen) % 3 else pick(langs_sf), **band()}
            elif kind == "mf_dv":
                args = {"should": [["title", kw], ["body", kw]], "lang": pick(mf_langs), **band()}
            else:
                args = {"kw": kw}
            key = repr(sorted(args.items()))
            if key in seen:
                continue
            seen.add(key)
            head_pool.append({"id": f"{kind}-{len(seen) - 1}", "kind": kind, "args": args})
    return {"tail": tail_pool, "head": head_pool}


def _lang_of(url: str):
    return LANGS[int(hashlib.md5(url.encode()).hexdigest(), 16) % len(LANGS)]


def cache_key() -> str:
    here = common.HERE
    digest = common.source_digest([
        common.PACKAGE,
        os.path.join(here, "common.py"),
        os.path.join(here, "fixture.py"),
        os.path.join(here, "queries.py"),
    ])
    h = hashlib.sha256(digest.encode())
    h.update(repr((common.SERVE_START, common.SERVE_DOCS, SF_CONFIG, MF_CONFIG)).encode())
    return h.hexdigest()[:16]


def fixture_dir() -> str:
    return os.path.join(common.WORK, "fixture-" + cache_key())


def ensure() -> tuple[str, float]:
    """Fixture directory, building it in a child process when missing.
    Returns (dir, seconds spent building; 0.0 on a cache hit)."""
    import subprocess

    out = fixture_dir()
    if os.path.exists(os.path.join(out, "fixture.json")):
        return out, 0.0
    t0 = time.perf_counter()
    subprocess.run([sys.executable, os.path.abspath(__file__)], check=True,
                   stdout=subprocess.DEVNULL, cwd=common.ROOT)
    if not os.path.exists(os.path.join(out, "fixture.json")):
        raise RuntimeError("fixture build finished without writing fixture.json")
    return out, time.perf_counter() - t0


def _write_corpora(tmp: str):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from search_engine_spark.analysis.text import tokenize
    from search_engine_spark.fixtures.webtext import generate_rows

    rows = generate_rows(common.SERVE_START, common.SERVE_DOCS)
    urls, texts = rows["url"], rows["text"]
    n_chars = [len(t) for t in texts]
    os.makedirs(os.path.join(tmp, "sf_corpus"))
    pq.write_table(pa.table({
        "url": urls, "html": pa.array(rows["html"], pa.binary()),
        "lang": rows["lang"], "n_chars": pa.array(n_chars, pa.int64()),
    }), os.path.join(tmp, "sf_corpus", "part-0.parquet"))
    toks = [tokenize(t) for t in texts]
    titles = [" ".join(t[:TITLE_LEN]) for t in toks]
    bodies = [" ".join(t[TITLE_LEN:]) for t in toks]
    mf_lang = [_lang_of(u) for u in urls]
    os.makedirs(os.path.join(tmp, "mf_corpus"))
    pq.write_table(pa.table({
        "url": urls, "title": titles, "body": bodies,
        "lang": pa.array(mf_lang, pa.string()), "n_chars": pa.array(n_chars, pa.int64()),
    }), os.path.join(tmp, "mf_corpus", "part-0.parquet"))
    return rows, titles, bodies, mf_lang, n_chars


def _codec_samples(osf, out: str) -> list[str]:
    """Oracle posting arrays of the top head terms and some tail terms."""
    n = osf.n_docs
    tail = sorted(t for t, pl in osf.postings.items() if 0.003 * n <= len(pl) <= 0.03 * n)
    step = max(1, len(tail) // (CODEC_TERMS // 2))
    terms = list(HEAD_TERMS[: CODEC_TERMS // 2]) + tail[::step][: CODEC_TERMS // 2]
    arrays = {}
    for i, t in enumerate(terms):
        pl = osf.postings[t]
        docs = np.array(sorted(pl), dtype=np.int64)
        arrays[f"doc_ids_{i}"] = docs
        arrays[f"tfs_{i}"] = np.array([pl[d] for d in docs], dtype=np.int64)
        arrays[f"dls_{i}"] = np.array([osf.doc_len[d] for d in docs], dtype=np.int64)
        pos = osf.positions[t]
        arrays[f"positions_{i}"] = np.concatenate([np.array(pos[d], dtype=np.int64) for d in docs])
    np.savez(os.path.join(out, "codec.npz"), **arrays)
    return terms


def build() -> None:
    common.setup_environment()
    out = fixture_dir()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    rows, titles, bodies, mf_lang, n_chars = _write_corpora(tmp)

    from search_engine_spark.index.builder import BuildConfig, build_index

    spark = common.start_spark("perfbench-fixture")
    try:
        build_index(spark, os.path.join(tmp, "sf_corpus"), os.path.join(tmp, "sf_index"),
                    cfg=BuildConfig(**SF_CONFIG))
        build_index(spark, os.path.join(tmp, "mf_corpus"), os.path.join(tmp, "mf_index"),
                    cfg=BuildConfig(**MF_CONFIG))
    finally:
        common.shutdown_jvm()
    t_build = time.perf_counter() - t0

    from search_engine_spark.oracle import OracleIndex, OracleMultiFieldIndex

    urls = rows["url"]
    osf = OracleIndex(list(zip(urls, rows["text"])))
    omf = OracleMultiFieldIndex([(u, {"title": t, "body": b}) for u, t, b in zip(urls, titles, bodies)])
    rank = osf.url_to_doc
    sf_attrs = {rank[u]: (lang, c) for u, lang, c in zip(urls, rows["lang"], n_chars)}
    mf_attrs = {rank[u]: (lang, c) for u, lang, c in zip(urls, mf_lang, n_chars)}
    texts_by_doc = [""] * osf.n_docs
    for u, t in zip(urls, rows["text"]):
        texts_by_doc[rank[u]] = t
    pools = build_pools(osf, texts_by_doc, sf_attrs, sorted({x for x in mf_lang if x}))
    answers = {
        name: {q["id"]: expected(q, osf, omf, sf_attrs, mf_attrs) for q in pool}
        for name, pool in pools.items()
    }
    codec_terms = _codec_samples(osf, tmp)
    meta = {
        "docs": common.SERVE_DOCS,
        "start": common.SERVE_START,
        "pools": pools,
        "expected": answers,
        "codec_terms": codec_terms,
        "index_build_s": round(t_build, 3),
        "build_s": round(time.perf_counter() - t0, 3),
    }
    with open(os.path.join(tmp, "fixture.json"), "w") as fh:
        json.dump(meta, fh)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


if __name__ == "__main__":
    build()
