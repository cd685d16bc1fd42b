"""Independent reference answers for the perfbench correctness checks.

Nothing here imports ``scipi_spark``: the validation rules are
re-implemented from their specification over the generator's own
records, the P7-P12 result tables are recomputed by DuckDB, and the
near-duplicate pairs are rechecked by exact Jaccard in Python. Every
check returns a list of mismatch descriptions; each one counts as a
failed operation.
"""

from __future__ import annotations

import math
import re
from collections import defaultdict

import duckdb

_WS = " \t\n\x0b\f\r"
_STRIP = re.compile(rf"[^a-zA-Z0-9{_WS}]")


def _clean(s):
    if s is None:
        return None
    c = _STRIP.sub("", s).strip(_WS).lower()
    return c or None


def _clean_list(items, max_len=None):
    if items is None:
        return None
    out = []
    for x in items:
        c = _clean(x)
        if c is not None and (max_len is None or len(c) <= max_len) and c not in out:
            out.append(c)
    return out


def _validate(doi, title, publisher, venue, lang, keywords, year, authors, fos):
    """The seven ingest rules; returns the cleaned row or None."""
    kw = _clean_list(keywords, 30)
    fs = _clean_list(fos, 30)
    au = _clean_list(authors)
    ok = (
        _clean(lang) == "en"
        and _clean(doi) is not None
        and _clean(title) is not None
        and (_clean(publisher) is not None or _clean(venue) is not None)
        and (len(kw or []) > 0 or len(fs or []) > 0)
        and len(_clean(year) or "") == 4
        and len(au or []) > 0
    )
    if not ok:
        return None
    return {"title": _clean(title), "publisher": _clean(publisher), "venue": _clean(venue),
            "year": year, "keywords": kw or [], "authors": au, "fos": fs or []}


def valid_oag(records):
    out = []
    for r in records:
        if r is None:  # malformed line
            continue
        names = None if r.get("authors") is None else [a.get("name") for a in r["authors"]]
        v = _validate(r.get("doi"), r.get("title"), r.get("publisher"), r.get("venue"),
                      r.get("lang"), r.get("keywords"), r.get("year"), names, r.get("fos"))
        if v is not None:
            out.append(v)
    return out


def valid_dblp(records):
    out = []
    for r in records:
        # the XML producer drops records without title/year/venue
        if not (r["title"] and r["year"] and r["conference"]):
            continue
        v = _validate(r["key"], r["title"], r["publisher"], r["conference"], "en",
                      ["computer science"], r["year"], r["authors"], ["computer science"])
        if v is not None:
            out.append(v)
    return out


#: P7-P12 over a ``pubs(year, keywords, authors, fos)`` relation
ANALYTICS_SQL = {
    "keyword_count": """SELECT kw AS keyword_name, count(*) AS keyword_count
        FROM (SELECT unnest(keywords) AS kw FROM pubs) GROUP BY kw""",
    "fos_count": """SELECT f AS field_study_name, count(*) AS field_study_count
        FROM (SELECT unnest(fos) AS f FROM pubs) GROUP BY f""",
    "yrwise_dist": """SELECT year, count(*) FILTER (len(authors) = 1) AS single,
        count(*) FILTER (len(authors) > 1) AS joint, count(*) AS total,
        single / total AS single_perc, joint / total AS joint_perc
        FROM pubs GROUP BY year""",
    "authorship_pattern": """SELECT len(authors) AS author_unit,
        count(*) AS no_articles, len(authors) * count(*) AS no_authors
        FROM pubs GROUP BY len(authors)""",
    "avg_authors_per_paper": """SELECT year, count(*) AS no_articles,
        sum(len(authors)) AS no_authors, sum(len(authors)) / count(*) AS avg_author_paper
        FROM pubs GROUP BY year""",
    "hyper_authorship": """SELECT year AS hyper_authorship_year,
        count(*) AS hyper_authorship_count
        FROM pubs WHERE len(authors) >= 100 GROUP BY year""",
}


def _rows_close(a, b) -> bool:
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(x, float) or isinstance(y, float):
            if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12):
                return False
        elif x != y:
            return False
    return True


def check_analytics(valid_rows, tables: dict[str, str]) -> list[str]:
    """Compare each P7-P12 parquet table in ``tables`` (name -> dir)
    against DuckDB over the reference-validated rows."""
    import pyarrow as pa

    con = duckdb.connect()
    try:
        pubs = pa.table({
            "year": pa.array([r["year"] for r in valid_rows], pa.string()),
            "keywords": pa.array([r["keywords"] for r in valid_rows], pa.list_(pa.string())),
            "authors": pa.array([r["authors"] for r in valid_rows], pa.list_(pa.string())),
            "fos": pa.array([r["fos"] for r in valid_rows], pa.list_(pa.string())),
        })
        con.register("pubs", pubs)
        errors = []
        for name, path in tables.items():
            cur = con.execute(ANALYTICS_SQL[name])
            cols = [d[0] for d in cur.description]
            want = sorted(cur.fetchall(), key=repr)
            got = sorted(
                con.execute(
                    f"SELECT {', '.join(cols)} FROM read_parquet('{path}/*.parquet')"
                ).fetchall(),
                key=repr,
            )
            if len(got) != len(want) or not all(map(_rows_close, got, want)):
                errors.append(f"{name}: {len(got)} rows differ from reference ({len(want)})")
        return errors
    finally:
        con.close()


# ---------------------------------------------------------------------------
# publication graph (graph_community)
# ---------------------------------------------------------------------------

def relevant(pubs, keywords, domains):
    kw, dm = set(keywords), set(domains)
    return [p for p in pubs if kw & set(p["keywords"]) or dm & set(p["fos"])]


def graph_edges(pubs) -> set[tuple[str, str]]:
    """Distinct directed (src, dst) pairs of the heterogeneous graph:
    paper->publisher, paper->venue, author->paper for all but the last
    author (the only author when there is one), co-author pairs i<j."""
    out = set()
    for p in pubs:
        t, au = p["title"], p["authors"]
        for v in (p["publisher"], p["venue"]):
            if v:
                out.add((t, v))
        for a in (au if len(au) == 1 else au[:-1]):
            out.add((a, t))
        for i in range(len(au)):
            for j in range(i + 1, len(au)):
                out.add((au[i], au[j]))
    return out


def check_cliques(labels: dict[str, int], cliques: list[list[str]]) -> list[str]:
    """Every planted clique is one community, and no two cliques share one."""
    errors, seen = [], {}
    for c, members in enumerate(cliques):
        ls = {labels.get(m) for m in members}
        if len(ls) != 1 or None in ls:
            errors.append(f"clique {c} split across {len(ls)} labels")
            continue
        (lab,) = ls
        if lab in seen:
            errors.append(f"cliques {seen[lab]} and {c} merged")
        seen[lab] = c
    return errors


def check_subgraph(decorated, labels: dict[str, int], keep: list[int],
                   edges: set[tuple[str, str]]) -> list[str]:
    """The decorated edges are exactly the distinct edges whose ends both
    carry a kept label, each end decorated with its own label."""
    kept = {v for v, lab in labels.items() if lab in set(keep)}
    want = {(s, d) for s, d in edges if s in kept and d in kept}
    got = {(r[0], r[3]) for r in decorated}
    errors = []
    if got != want or len(decorated) != len(want):
        errors.append(f"decorated edges: {len(decorated)} rows, reference {len(want)}")
    bad = sum(1 for r in decorated if labels.get(r[0]) != r[2] or labels.get(r[3]) != r[5])
    if bad:
        errors.append(f"decorated edges: {bad} rows carry the wrong label")
    return errors


def collaborators(pubs, keywords, usage_threshold) -> dict[str, int]:
    """author -> number of distinct collaborators sharing a strongly used
    keyword (A4-A11)."""
    cnt = defaultdict(int)
    kws = set(keywords)
    for p in pubs:
        for kw in set(p["keywords"]) & kws:
            for a in set(p["authors"]):
                cnt[(a, kw)] += 1
    by_kw = defaultdict(set)
    for (a, kw), n in cnt.items():
        if n > usage_threshold:
            by_kw[kw].add(a)
    collab = defaultdict(set)
    for authors in by_kw.values():
        for a in authors:
            collab[a] |= authors - {a}
    return {a: len(c) for a, c in collab.items() if c}


# ---------------------------------------------------------------------------
# signature store (the dedup stage of graph_community)
# ---------------------------------------------------------------------------

def shingles(text: str, k: int = 3) -> set[str]:
    """Distinct word k-shingles of the whitespace tokens."""
    toks = text.split()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def check_dedup(found: dict[int, list[tuple[str, str, float]]], planted, texts,
                threshold: float) -> tuple[list[str], float]:
    """(mismatches, planted-pair recall). ``found`` maps each probed
    increment to the pairs the probe emitted. Every emitted pair must
    carry its exact Jaccard (recomputed here from the texts) and reach
    the threshold; every planted pair must be emitted by its increment's
    probe."""
    errors = []
    for b, pairs in found.items():
        bad = [p for p in pairs
               if not math.isclose(p[2], round(jaccard(texts[p[0]], texts[p[1]]), 6),
                                   abs_tol=2e-6) or p[2] < threshold]
        if bad:
            errors.append(f"probe {b}: {len(bad)} of {len(pairs)} pairs fail the Jaccard recheck")
    emitted = {(b, frozenset(p[:2])) for b, pairs in found.items() for p in pairs}
    hit = sum((b, frozenset((x, y))) in emitted for b, x, y in planted)
    if hit != len(planted):
        errors.append(f"planted near-duplicates: {hit} of {len(planted)} found")
    return errors, hit / len(planted)
