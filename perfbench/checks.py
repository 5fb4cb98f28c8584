"""Oracle comparisons. Each returns a list of mismatch messages (empty when
the answer is right); the caller runs them outside every timed span."""

from __future__ import annotations

import math

from marc_solr_profiling_spark.oracle import OracleIndex

REL = 1e-9


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL, abs_tol=0.0)


def ranked(got: list[tuple[str, float]], want: list[tuple[str, float]],
           what: str) -> list[str]:
    """Same urls in the same order, scores equal to rel=1e-9."""
    if [u for u, _ in got] != [u for u, _ in want]:
        i = next((i for i, (g, w) in enumerate(zip(got, want))
                  if g[0] != w[0]), min(len(got), len(want)))
        return [f"{what}: {len(got)} rows, {len(want)} expected; first "
                f"difference at rank {i + 1}: {got[i:i + 2]} != "
                f"{want[i:i + 2]}"]
    bad = [(u, g, w) for (u, g), (_, w) in zip(got, want)
           if not _close(g, w)]
    return [f"{what}: score {u} {g!r} != {w!r}" for u, g, w in bad[:3]]


def ranked_any_tie_order(got: list[tuple[str, float]],
                         want: list[tuple[str, float]],
                         scores: dict[str, float], what: str) -> list[str]:
    """Answers from a generation chain. Its doc ids are not in url order
    (an upserted doc gets a fresh id above all others) and equal scores
    rank by doc id, so docs with equal scores may come in any order, as
    tests/test_generations.py also accepts. Scores must equal the oracle's
    rank by rank (rel=1e-9), every url must have that score in the oracle
    (``scores``: url -> oracle score), and no url may repeat."""
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows, {len(want)} expected"]
    bad = [(i, u, g, w) for i, ((u, g), (_, w)) in enumerate(zip(got, want))
           if not (_close(g, w) and u in scores and _close(scores[u], w))]
    out = [f"{what}: rank {i + 1} {u} score {g!r}, expected {w!r}"
           for i, u, g, w in bad[:3]]
    if len({u for u, _ in got}) != len(got):
        out.append(f"{what}: a url repeats in {got}")
    return out


def oracle_page(oracle: OracleIndex, query: str, start: int, rows: int,
                allowed=None) -> list[tuple[str, float]]:
    """Rows ``start`` .. ``start+rows`` of the (score desc, url asc) order,
    optionally restricted to the urls in ``allowed``."""
    scores = oracle.score_query(query)
    if allowed is not None:
        scores = {u: s for u, s in scores.items() if u in allowed}
    order = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return order[start:start + rows]


def stats(index, oracle: OracleIndex, what: str) -> list[str]:
    out = []
    if index.n_docs != oracle.n_docs:
        out.append(f"{what}: n_docs {index.n_docs} != {oracle.n_docs}")
    if not math.isclose(index.avgdl, oracle.avgdl, rel_tol=1e-12):
        out.append(f"{what}: avgdl {index.avgdl!r} != {oracle.avgdl!r}")
    return out


def dictionary(index, oracle: OracleIndex, what: str) -> list[str]:
    """Every term's df equals the oracle's posting-list length."""
    got = {r["term"]: int(r["df"])
           for r in index.dictionary.select("term", "df").collect()}
    want = {t: len(p) for t, p in oracle.postings.items()}
    bad = sorted(t for t in set(got) | set(want) if got.get(t) != want.get(t))
    return [f"{what}: df of {len(bad)} terms differs, e.g. "
            f"{[(t, got.get(t), want.get(t)) for t in bad[:5]]}"] if bad else []


def select_page(num_found: int, facet_rows, page_rows, url_by_id,
                oracle: OracleIndex, query: str, en_urls: set[str],
                rows: int, what: str) -> list[str]:
    """fq=lang:en, facet on lang: numFound, facet counts and page."""
    match = {u for u in oracle.score_query(query) if u in en_urls}
    out = []
    if num_found != len(match):
        out.append(f"{what}: numFound {num_found} != {len(match)}")
    want_f = {("lang", "en"): len(match)} if match else {}
    got_f = {(r["facet_field"], r["facet_value"]): int(r["count"])
             for r in facet_rows}
    if got_f != want_f:
        out.append(f"{what}: facets {got_f} != {want_f}")
    got = [(url_by_id[r["doc_id"]], r["score"])
           for r in sorted(page_rows, key=lambda r: r["rank"])]
    out += ranked(got, oracle_page(oracle, query, 0, rows, en_urls), what)
    return out
