"""Seeded input generators (pure Python, no Spark).

Everything the seed decides lives here: the SPARQL query constants and
Zipf draws, the class schedule of the read mix, the N-Quads content with
its malformed-line positions, and the update operations.  The same seed
gives the same inputs.  ``corpus.generate_src`` takes no seed, so the
kg_build corpus depends only on its size.
"""

from __future__ import annotations

import collections
import itertools
import random

# The read mix is a design choice, not measured from a query log: point
# lookups take most of it because SPARQL log studies (Bonifati, Martens
# and Timm, "An Analytical Study of Large SPARQL Query Logs", VLDB 2017)
# find most logged queries have one or a few triple patterns, but the
# shares, ZIPF_S and the pool sizes are not taken from any measurement.
ZIPF_S = 1.1

# read-mix classes; SHARES is one 20-slot block of the schedule
CLASSES = ("point_po", "point_s", "join", "agg", "path", "closure")
POINT_CLASSES = ("point_po", "point_s")
SHARES = {"point_po": 6, "point_s": 6, "join": 3, "agg": 2, "path": 2, "closure": 1}
BLOCK = sum(SHARES.values())
BLOCK_SECONDS = 4  # nominal time of one block with two clients on a 4-core host
POOL_SIZE = {"point_po": 8, "point_s": 8, "join": 4, "agg": 3, "path": 4, "closure": 3}

IMPORTS = "<urn:p:imports>"
DEFINES_CLASS = "<urn:p:definesClass>"
IN_REPO = "<urn:p:inRepo>"
CANONICAL = "<urn:p:canonical>"

TEMPLATES = {
    "point_po": "SELECT ?s WHERE {{ ?s <urn:p:imports> {c} }}",
    "point_s": "SELECT ?p ?o WHERE {{ {c} ?p ?o }}",
    "join": (
        "SELECT ?f ?k WHERE {{ ?f <urn:p:imports> {c} . "
        "?f <urn:p:definesClass> ?k . ?f <urn:p:inRepo> ?r }}"
    ),
    "agg": (
        "SELECT ?o (COUNT(?s) AS ?n) WHERE {{ GRAPH {c} {{ ?s <urn:p:imports> ?o }} }} "
        "GROUP BY ?o ORDER BY DESC(?n) ?o LIMIT 10"
    ),
    "path": "SELECT ?x WHERE {{ {c} ^<urn:p:imports>/<urn:p:imports> ?x }}",
    "closure": "SELECT ?x WHERE {{ ?x <urn:p:canonical>* {c} }}",
}
# which constant list (see the read workload's store scan) each class draws from
CONSTANT_KIND = {
    "point_po": "modules", "point_s": "files", "join": "modules",
    "agg": "graphs", "path": "modules", "closure": "canonical",
}


def zipf_distinct(rng: random.Random, items: list[str], k: int, s: float = ZIPF_S) -> list[str]:
    """k distinct items drawn with Zipf(s) weights over a seeded ranking."""
    ranked = sorted(items)
    rng.shuffle(ranked)
    k = min(k, len(ranked))
    cum = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(len(ranked))))
    picked: list[str] = []
    while len(picked) < k:
        x = rng.choices(ranked, cum_weights=cum)[0]
        if x not in picked:
            picked.append(x)
    return picked


def query_pool(rng: random.Random, constants: dict[str, list[str]]) -> list[tuple[str, str, str]]:
    """(class, constant, query text) for every pool query, in class order."""
    pool = []
    for cls in CLASSES:
        for c in zipf_distinct(rng, constants[CONSTANT_KIND[cls]], POOL_SIZE[cls]):
            pool.append((cls, c, TEMPLATES[cls].format(c=c)))
    return pool


def class_heads(pool: list[tuple[str, str, str]]) -> list[int]:
    """Index of the first pool query of each class, in class order."""
    return [next(i for i, q in enumerate(pool) if q[0] == cls) for cls in CLASSES]


def schedule(rng: random.Random, pool: list[tuple[str, str, str]], n: int) -> list[int]:
    """n pool indexes: each BLOCK-slot block holds SHARES of each class in
    seeded order; within a class the query is a Zipf draw over its pool."""
    by_cls = {cls: [i for i, q in enumerate(pool) if q[0] == cls] for cls in CLASSES}
    block = [cls for cls in CLASSES for _ in range(SHARES[cls])]
    out: list[int] = []
    while len(out) < n:
        rng.shuffle(block)
        for cls in block:
            idx = by_cls[cls]
            cum = list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(len(idx))))
            out.append(rng.choices(idx, cum_weights=cum)[0])
    return out[:n]


# ------------------------------------------------------------ RDF ingest

N_SUBJECTS = 4000
N_PREDICATES = 24
N_GRAPHS = 12
MALFORMED = (
    "<urn:rdf:s{k}> <urn:rdf:p0> \"unterminated .",
    "<urn:rdf:s{k}> <urn:rdf:p1> .",
    "this line is not a statement {k}",
    "<urn:rdf:s{k}> <urn:rdf:p2> <urn:rdf:o{k}>",
)


def _quad(rng: random.Random, i: int) -> str:
    s = rng.randrange(N_SUBJECTS)
    p = min(int(rng.paretovariate(1.2)) - 1, N_PREDICATES - 1)
    g = rng.randrange(N_GRAPHS)
    # the line index makes every object, hence every quad, distinct
    obj = f'"v{i}"' if i % 3 else f"<urn:rdf:o{i}>"
    return f"<urn:rdf:s{s}> <urn:rdf:p{p}> {obj} <urn:rdf:g{g}> ."


def nquads(rng: random.Random, n_quads: int, n_bad: int, start: int = 0) -> tuple[list[str], list[str]]:
    """(good, lines): n_quads distinct well-formed N-Quads lines (indexes
    start..), and the same lines with n_bad malformed lines inserted at
    seeded positions."""
    good = [_quad(rng, i) for i in range(start, start + n_quads)]
    lines = list(good)
    for k in range(n_bad):
        bad = MALFORMED[k % len(MALFORMED)].format(k=start + k)
        lines.insert(rng.randrange(len(lines) + 1), bad)
    return good, lines


def update_ops(rng: random.Random, n: int, good: list[str]) -> list[dict]:
    """n update operations.  Each inserts a fresh quad and deletes the
    statements of one (subject, predicate) pair taken from the well-formed
    lines ``good``; its read-your-write query must return exactly the
    inserted value.  ``changed`` counts the quads the operation inserts
    or deletes."""
    heads = collections.Counter(tuple(line.split(" ", 2)[:2]) for line in good)
    pairs = sorted(heads)
    ops = []
    for k, (s, p) in enumerate(rng.sample(pairs, n)):
        new_s = f"<urn:rdf:new{k}>"
        value = f"ins{rng.randrange(10**9)}"
        ops.append({
            "update": (
                f'INSERT DATA {{ GRAPH <urn:rdf:gnew> {{ {new_s} <urn:rdf:pnew> "{value}" }} }} ; '
                f"DELETE WHERE {{ GRAPH ?g {{ {s} {p} ?o }} }}"
            ),
            "read": (
                f"SELECT ?x WHERE {{ {{ GRAPH ?g {{ {new_s} <urn:rdf:pnew> ?x }} }} "
                f"UNION {{ GRAPH ?h {{ {s} {p} ?x }} }} }}"
            ),
            "expect": value,
            "changed": 1 + heads[(s, p)],
        })
    return ops
