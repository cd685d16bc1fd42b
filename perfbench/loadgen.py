"""Seeded load generator for the perfbench workloads.

Everything a workload feeds to the program is decided here from the
seed: which records are poisoned (one planted reject for every
validation rule), which records each stream file holds, which
author cliques are planted in the publication graph and which
documents are planted near-duplicates. The program only
ever sees the files written below; the seed stays in this module.

Each generator also returns the records it wrote, which the reference
checks in ``reference.py`` recompute independently of the program.
Generated inputs are cached per (workload, seed, scale) under the
benchmark's own ignored ``.cache`` directory; ``digest`` hashes the
written files so two runs can prove they read identical inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from xml.sax.saxutils import escape, quoteattr

#: validation rules a planted OAG reject violates (ingest.validate_publications)
REJECT_RULES = ("lang", "doi", "title", "source", "topics", "year", "authors", "json")

_SYL = ("ka", "lo", "mi", "ne", "ru", "ta", "vo", "xe", "zu", "pi", "da", "fe",
        "go", "hu", "ja", "ki", "le", "mo", "nu", "po", "qu", "ri", "se", "ti")
_FOS = ["computer science", "mathematics", "physics", "biology", "chemistry",
        "medicine", "economics", "sociology", "geology", "linguistics",
        "Machine-Learning", "data mining!", "Network Science", "statistics"]


def _word(rng: random.Random, n: int = 3) -> str:
    return "".join(rng.choice(_SYL) for _ in range(n))


def _phrase(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(_word(rng, rng.randint(2, 4)) for _ in range(rng.randint(lo, hi)))


class _Vocab:
    """Name pools shared by the publication generators of one seed."""

    def __init__(self, rng: random.Random, n_authors: int):
        # distinct prefixes keep author, venue, publisher and title
        # vertices from colliding in the publication graph
        self.authors = [f"Au {_word(rng)} {_word(rng)} {i}" for i in range(n_authors)]
        self.keywords = [f"{_word(rng)} {_word(rng, 2)}" for _ in range(400)]
        # a few keywords that clean to the same string: dedup inside a record
        self.keywords += ["Deep-Learning", "deep learning", "DEEP LEARNING!"]
        self.venues = [f"Venue {_word(rng)} {i}" for i in range(60)]
        self.publishers = [f"Press {_word(rng)} {i}" for i in range(25)]


def _zipf_pick(rng: random.Random, items: list, skew: float = 1.3):
    # heavy-tailed choice: a few hot keywords, a long tail
    i = int(len(items) * (rng.random() ** skew * rng.random()))
    return items[min(i, len(items) - 1)]


def _oag_record(rng: random.Random, vocab: _Vocab, serial: int) -> dict:
    n_auth = rng.choice((1, 1, 2, 2, 3, 3, 4, 5, 6, 8))
    if rng.random() < 0.004:
        n_auth = rng.randint(100, 130)  # hyper-authorship (P12)
    rec = {
        "doi": f"10.{1000 + serial % 97}/oag.{serial}",
        "title": f"Title {serial} " + _phrase(rng, 2, 6).capitalize() + "?",
        "publisher": rng.choice(vocab.publishers) if rng.random() < 0.8 else None,
        "venue": rng.choice(vocab.venues) if rng.random() < 0.85 else None,
        "lang": rng.choice(("en", "en", "EN", " en ")),
        "year": str(rng.randint(1990, 2019)),
        "keywords": [_zipf_pick(rng, vocab.keywords) for _ in range(rng.randint(1, 5))],
        "authors": [{"name": a} for a in rng.sample(vocab.authors, n_auth)],
        "fos": rng.sample(_FOS, rng.randint(1, 3)),
    }
    if rec["publisher"] is None and rec["venue"] is None:
        rec["venue"] = rng.choice(vocab.venues)
    return rec


def _poison(rec: dict, rule: str, rng: random.Random) -> dict:
    """Make ``rec`` fail exactly ``rule`` (checked in rule order)."""
    rec = dict(rec)
    if rule == "lang":
        rec["lang"] = rng.choice(("fr", "de", None))
    elif rule == "doi":
        rec["doi"] = rng.choice((None, "!!!", "  "))
    elif rule == "title":
        rec["title"] = rng.choice((None, "???"))
    elif rule == "source":
        rec["publisher"], rec["venue"] = None, rng.choice((None, "--"))
    elif rule == "topics":
        rec["keywords"] = ["x" * 31 + _word(rng), "!!"]
        rec["fos"] = rng.choice((None, [], ["#"]))
    elif rule == "year":
        rec["year"] = rng.choice(("19999", "99", "20l9x"))
    elif rule == "authors":
        rec["authors"] = rng.choice(([], [{"name": "..."}]))
    return rec


def _oag_lines(rng: random.Random, vocab: _Vocab, n: int, start: int,
               reject_rate: float) -> tuple[list[str], list[dict]]:
    """``n`` raw OAG JSON lines plus the parsed record behind each line
    (None for a malformed line)."""
    lines, recs = [], []
    for i in range(n):
        rec = _oag_record(rng, vocab, start + i)
        rule = rng.choice(REJECT_RULES) if rng.random() < reject_rate else None
        if rule == "json":
            lines.append(json.dumps(rec)[: rng.randint(5, 40)])
            recs.append(None)
            continue
        if rule is not None:
            rec = _poison(rec, rule, rng)
        lines.append(json.dumps(rec))
        recs.append(rec)
    return lines, recs


def _dblp_records(rng: random.Random, vocab: _Vocab, n: int, reject_rate: float):
    recs = []
    for i in range(n):
        rec = {
            "key": f"conf/{_word(rng, 2)}/{i}",
            "title": f"Dblp {i} " + _phrase(rng, 2, 6),
            "year": str(rng.randint(1990, 2019)),
            "conference": rng.choice(vocab.venues),
            "publisher": rng.choice(vocab.publishers) if rng.random() < 0.3 else None,
            "authors": rng.sample(vocab.authors, rng.choice((1, 2, 2, 3, 4))),
        }
        if rng.random() < reject_rate:
            rule = rng.choice(("year", "authors", "title", "producer"))
            if rule == "year":
                rec["year"] = "19x"
            elif rule == "authors":
                rec["authors"] = ["&&"]
            elif rule == "title":
                rec["title"] = "<>"
            else:  # dropped by the XML producer itself: no venue element
                rec["conference"] = None
        recs.append(rec)
    return recs


def _dblp_xml(recs: list[dict]) -> str:
    parts = ["<dblp>"]
    for r in recs:
        parts.append(f"<inproceedings key={quoteattr(r['key'])}>")
        parts += [f"<author>{escape(a)}</author>" for a in r["authors"]]
        parts.append(f"<title>{escape(r['title'])}</title>")
        parts.append(f"<year>{escape(r['year'])}</year>")
        if r["conference"] is not None:
            parts.append(f"<booktitle>{escape(r['conference'])}</booktitle>")
        if r["publisher"] is not None:
            parts.append(f"<publisher>{escape(r['publisher'])}</publisher>")
        parts.append("</inproceedings>")
    parts.append("</dblp>")
    return "\n".join(parts)


def _write(path: str, text: str) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(text)


def digest(root: str) -> str:
    """sha256 over every generated file (relative path + bytes)."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            if name == "records.json":
                continue
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------------
# per-workload inputs
# ---------------------------------------------------------------------------

#: input sizes per workload at scale 1.0
SCALE = {
    "stream_upsert": {"files": 4, "per_file": 300},
    "graph_community": {"cliques": 16, "clique_papers": 6, "noise_pubs": 1200,
                        "reject_rate": 0.1, "dblp_chunks": 2, "dblp_per_chunk": 300,
                        "store_docs": 600, "increments": 2, "inc_fresh": 100,
                        "inc_dups": 20},
}


def gen_stream_upsert(root: str, rng: random.Random, scale: float) -> dict:
    """Stream files in release order."""
    p = SCALE["stream_upsert"]
    vocab = _Vocab(rng, 2000)
    os.makedirs(f"{root}/files")
    per = max(1, int(p["per_file"] * scale))
    files = []
    for f in range(p["files"]):
        # every file holds the same number of lines, so that across seeds
        # records_per_s varies with run_s only
        lines, recs = _oag_lines(rng, vocab, per, f * 10 * per, reject_rate=0.1)
        name = f"batch-{f:04d}.jsonl"
        _write(f"{root}/files/{name}", "\n".join(lines) + "\n")
        files.append({"name": name, "records": recs})
    return {"files": files, "n_input": sum(len(f["records"]) for f in files)}


#: keywords the community relevance filter keeps (C1)
GRAPH_KEYWORDS = ["graph mining", "community detection", "social networks"]
GRAPH_DOMAINS = ["network science"]


def gen_graph_community(root: str, rng: random.Random, scale: float) -> dict:
    """Raw OAG JSON lines and DBLP XML chunks for the ingest stage, plus a
    document corpus with planted near-duplicates for the signature store.

    The OAG lines hold the publication graph. Every planted clique owns
    its authors, venue and publisher; each of its papers lists all of its
    members. Bridge papers join every clique to the next one (one author
    of each) and to the noise (a noise paper in the clique's venue), so
    the whole graph is one connected component and only label
    propagation, not reachability, separates the cliques. Noise papers
    draw from a separate author pool and their own venues; a share of
    them fails the relevance filter, and a share is poisoned so that
    ingest rejects it (every rule, plus malformed JSON). The DBLP records
    carry the constant ``computer science`` topics, which the relevance
    filter drops: they exercise the XML path only."""
    p = SCALE["graph_community"]
    lines, oag, cliques = [], [], []
    serial = 0

    def pub(title, authors, venue, publisher, keywords, fos, rule=None):
        nonlocal serial
        serial += 1
        rec = {"doi": f"10.9/g.{serial}", "title": title, "publisher": publisher,
               "venue": venue, "lang": "en", "year": str(rng.randint(2000, 2019)),
               "keywords": keywords, "authors": [{"name": a} for a in authors],
               "fos": fos}
        if rule == "json":
            lines.append(json.dumps(rec)[: rng.randint(5, 40)])
            oag.append(None)
            return
        if rule is not None:
            rec = _poison(rec, rule, rng)
        lines.append(json.dumps(rec))
        oag.append(rec)

    for c in range(p["cliques"]):
        size = 8 + 2 * c  # distinct sizes make the top communities unique
        members = [f"au clique {c} member {i} {_word(rng)}" for i in range(size)]
        cliques.append(members)
        venue, publisher = f"venue clique {c}", f"press clique {c}"
        for j in range(p["clique_papers"]):
            # every member on every paper, in a seeded order: the clique's
            # co-author edges outweigh its paper edges and its one bridge,
            # so five LPA supersteps settle it on one label
            pub(f"paper clique {c} n {j} {_phrase(rng, 2, 4)}", rng.sample(members, size),
                venue, publisher, [rng.choice(GRAPH_KEYWORDS), _word(rng)],
                ["network science"])
    pool = [f"au noise {i} {_word(rng)}" for i in range(int(2000 * scale) + 10)]
    nvenues = [f"venue noise {i}" for i in range(40)]
    for c in range(len(cliques)):
        nxt = cliques[(c + 1) % len(cliques)]
        pub(f"paper bridge {c} {_phrase(rng, 2, 4)}",
            [rng.choice(cliques[c]), rng.choice(nxt)], rng.choice(nvenues), None,
            [rng.choice(GRAPH_KEYWORDS)], ["network science"])
        pub(f"paper bridge noise {c} {_phrase(rng, 2, 4)}", rng.sample(pool, 2),
            f"venue clique {c}", None, [rng.choice(GRAPH_KEYWORDS)], ["physics"])
    for j in range(int(p["noise_pubs"] * scale)):
        relevant = rng.random() < 0.6
        kw = [rng.choice(GRAPH_KEYWORDS) if relevant else _word(rng), _word(rng)]
        rule = rng.choice(REJECT_RULES) if rng.random() < p["reject_rate"] else None
        pub(f"paper noise {j} {_phrase(rng, 2, 4)}", rng.sample(pool, rng.choice((1, 2, 3, 4))),
            rng.choice(nvenues), None, kw, [rng.choice(("biology", "physics"))], rule)
    order = list(range(len(lines)))
    rng.shuffle(order)
    lines, oag = [lines[i] for i in order], [oag[i] for i in order]
    os.makedirs(f"{root}/oag")
    n = 4  # several files: the scan starts with more than one partition
    step = (len(lines) + n - 1) // n
    for f in range(n):
        _write(f"{root}/oag/part-{f:03d}.jsonl", "\n".join(lines[f * step:(f + 1) * step]) + "\n")

    vocab = _Vocab(rng, 1000)
    os.makedirs(f"{root}/dblp")
    dblp = []
    per = max(1, int(p["dblp_per_chunk"] * scale))
    for c in range(p["dblp_chunks"]):
        recs = _dblp_records(rng, vocab, per, reject_rate=0.08)
        for r in recs:
            r["key"] += f"/{c}"
        _write(f"{root}/dblp/chunk-{c:03d}.xml", _dblp_xml(recs))
        dblp += recs
    docs = _gen_documents(f"{root}/documents", rng, p, scale)
    return {"oag": oag, "dblp": dblp, "cliques": cliques,
            "n_input": len(oag) + len(dblp) + docs["n_docs"], **docs}


def _gen_documents(root: str, rng: random.Random, p: dict, scale: float) -> dict:
    """A store corpus and probe increments of word documents. Each
    increment mixes fresh documents with near-duplicates of store
    documents (one word replaced, one appended: exact 3-shingle Jaccard
    of at least 0.88, far above the probe threshold)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vocab = [_word(rng, rng.randint(2, 4)) for _ in range(3000)]

    def fresh():
        return [rng.choice(vocab) for _ in range(rng.randint(60, 100))]

    def near(words):
        words = list(words)
        words[rng.randrange(len(words))] = rng.choice(vocab)
        return words + [rng.choice(vocab)]

    store = {f"s{i}": fresh() for i in range(int(p["store_docs"] * scale))}
    store_ids = list(store)
    incs, planted = [], []
    for b in range(p["increments"]):
        inc = {f"i{b}f{i}": fresh() for i in range(p["inc_fresh"])}
        for i, base in enumerate(rng.sample(store_ids, p["inc_dups"])):
            inc[f"i{b}d{i}"] = near(store[base])
            planted.append([b, base, f"i{b}d{i}"])
        items = list(inc.items())
        rng.shuffle(items)
        incs.append(dict(items))
    os.makedirs(root)

    def write(name, docs):
        pq.write_table(pa.table({"doc_id": list(docs),
                                 "text": [" ".join(w) for w in docs.values()]}),
                       f"{root}/{name}.parquet")

    write("store", store)
    for b, inc in enumerate(incs):
        write(f"increment-{b}", inc)
    texts = {k: " ".join(w) for d in [store, *incs] for k, w in d.items()}
    return {"texts": texts, "planted": planted, "increments": len(incs),
            "n_docs": len(texts)}


GENERATORS = {
    "stream_upsert": gen_stream_upsert,
    "graph_community": gen_graph_community,
}


def generate(cache_root: str, workload: str, seed: int, scale: float = 1.0):
    """(input dir, generated records, input digest), cached per
    (workload, seed, scale). A cache entry is published by rename, so an
    interrupted generation is never reused."""
    key = f"{workload}-s{seed}-x{scale:g}"
    root = os.path.join(cache_root, key)
    meta = os.path.join(root, "records.json")
    if not os.path.exists(meta):
        tmp = root + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        # one stream per workload and seed: each workload's inputs are
        # independent of the others'
        rng = random.Random(f"{workload}:{seed}")
        truth = GENERATORS[workload](tmp, rng, scale)
        truth["digest"] = digest(tmp)
        with open(os.path.join(tmp, "records.json"), "w", encoding="utf-8") as fh:
            json.dump(truth, fh)
        shutil.rmtree(root, ignore_errors=True)
        os.rename(tmp, root)
    with open(meta, encoding="utf-8") as fh:
        truth = json.load(fh)
    return root, truth, truth["digest"]
