"""Query shapes, the fixed query pools, their oracle answers, and the checks.

A query is a JSON-able dict ``{"id", "kind", "args"}``.  ``execute`` runs it
against the two serve indexes (single-field ``sf`` and multi-field ``mf``)
and returns a normalized answer; ``same`` compares it with the oracle's
answer, which ``fixture.py`` precomputes.

Tail kinds take the driver fast path (the reference's dominant traffic);
head kinds pair a head term with a tail term and pin
``force_distributed=True`` so every physical Spark path is exercised.
"""

from __future__ import annotations

import numpy as np

TAIL_KINDS = ("or2", "and2", "prefix", "fuzzy", "suggest", "page", "phrase", "mf")
HEAD_KINDS = (
    "sort", "wand_approx", "wand_exact", "auto", "phrase_dist", "dv_filter",
    "sort_field", "facet", "mf_dv",
)
HEAD_TERMS = ("the", "of", "and", "to", "in")
K = 10
SCORE_TOL = 5e-7  # equal to 6 decimals

POOL_SEED = 20_251_017

# --------------------------------------------------------------- execution


def page_answer(res) -> dict:
    return {
        "total": int(res.total),
        "hits": [[int(d), float(s)] for d, s in zip(res.page["doc_id"], res.page["score"])],
    }


def _dv_filter(a: dict) -> list:
    return [
        {"equals": {"path": "lang", "value": a["lang"]}},
        {"range": {"path": "n_chars", "gte": a["lo"], "lt": a["hi"]}},
    ]


def execute(q: dict, sf, mf):
    """Run one query against the engines; returns the normalized answer."""
    kind, a = q["kind"], q["args"]
    if kind in ("or2", "prefix"):
        return page_answer(sf.search(a["kw"], k=K))
    if kind == "and2":
        return page_answer(sf.search(a["kw"], k=K, conjunctive=True))
    if kind == "page":
        return page_answer(sf.search(a["kw"], k=K, skip=10))
    if kind == "fuzzy":
        return page_answer(sf.search(a["kw"], k=K, fuzzy=1))
    if kind == "suggest":
        return {"term": sf.suggest(a["kw"], fuzzy=1)}
    if kind == "phrase":
        return page_answer(sf.search(a["kw"], k=K, phrase=True))
    if kind == "mf":
        return page_answer(mf.search_fields(
            must=[tuple(c) for c in a["must"]], should=[tuple(c) for c in a["should"]], k=K))
    fd = {"force_distributed": True}
    if kind == "sort":
        return page_answer(sf.search(a["kw"], k=K, mode="sort", **fd))
    if kind == "wand_approx":
        return page_answer(sf.search(a["kw"], k=K, mode="wand", total_mode="approx", **fd))
    if kind == "wand_exact":
        return page_answer(sf.search(a["kw"], k=K, mode="wand", **fd))
    if kind == "auto":
        return page_answer(sf.search(a["kw"], k=K, mode="auto", **fd))
    if kind == "phrase_dist":
        return page_answer(sf.search(a["kw"], k=K, phrase=True, **fd))
    if kind == "dv_filter":
        return page_answer(sf.search(a["kw"], k=K, dv_filter=_dv_filter(a), **fd))
    if kind == "sort_field":
        return page_answer(sf.search(a["kw"], k=K, sort={"path": "n_chars", "order": "desc"}, **fd))
    if kind == "facet":
        out = sf.facet_fields(keyword=a["kw"], facets={"lang": {"type": "string", "path": "lang"}})
        fb = out["facet"]["lang"]
        return {"total": int(out["count"]),
                "buckets": [[str(b), int(c)] for b, c in zip(fb["bucket"], fb["count"])]}
    if kind == "mf_dv":
        return page_answer(mf.search_fields(
            should=[tuple(c) for c in a["should"]], filter=_dv_filter(a), k=K, **fd))
    raise ValueError(f"unknown query kind {kind!r}")


def same(got: dict, exp: dict) -> bool:
    """(total, doc_ids, scores to 6 decimals) identity; buckets / suggested
    term compared exactly."""
    if set(got) != set(exp):
        return False
    if "term" in exp:
        return got["term"] == exp["term"]
    if got["total"] != exp["total"]:
        return False
    if "buckets" in exp:
        return [list(b) for b in got["buckets"]] == [list(b) for b in exp["buckets"]]
    gh, eh = got["hits"], exp["hits"]
    if [h[0] for h in gh] != [h[0] for h in eh]:
        return False
    return all(abs(g[1] - e[1]) <= SCORE_TOL for g, e in zip(gh, eh))


# ---------------------------------------------------------------- streams


def tail_stream(pool: list[dict], seed: int):
    """Endless seeded stream over the tail pool.

    Every block of ``len(TAIL_KINDS)`` queries holds each shape once in a
    seeded order.  Within a shape, popularity ranks follow one fixed Zipf(1.1)
    schedule; the seed decides which query holds which rank.  So every seed
    repeats queries equally often (the engine's expansion memo hits equally
    often) while the queries themselves differ.

    The equal share per shape and the 1.1 exponent are assumptions, not
    measurements: no query log of the reference service exists to weigh
    the shapes by, so a gain on this mix is not a traffic-weighted gain."""
    ranks = {k: np.random.default_rng([POOL_SEED, i]) for i, k in enumerate(TAIL_KINDS)}
    rng = np.random.default_rng(seed)
    by_kind = {k: [q for q in pool if q["kind"] == k] for k in TAIL_KINDS}
    ranked = {k: [qs[i] for i in rng.permutation(len(qs))] for k, qs in by_kind.items()}
    cdf = {}
    for k, qs in ranked.items():
        w = 1.0 / np.arange(1, len(qs) + 1) ** 1.1
        cdf[k] = np.cumsum(w / w.sum())
    while True:
        for kind in rng.permutation(TAIL_KINDS):
            i = int(np.searchsorted(cdf[kind], ranks[kind].random(), side="right"))
            yield ranked[kind][min(i, len(ranked[kind]) - 1)]


def head_cycles(pool: list[dict], seed: int):
    """Endless seeded cycles over the head pool: each cycle runs every head
    shape once (an equal share each, by assumption as in ``tail_stream``),
    in a seeded order, each on a seeded draw of its pool."""
    rng = np.random.default_rng(seed)
    by_kind = {k: [q for q in pool if q["kind"] == k] for k in HEAD_KINDS}
    while True:
        yield [by_kind[k][int(rng.integers(len(by_kind[k])))] for k in rng.permutation(HEAD_KINDS)]
