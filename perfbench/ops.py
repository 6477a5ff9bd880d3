"""Seeded op sequences for each workload, and the answers they must return.

Every op is SPARQL text plus what its answer must be. The engine only ever
sees the text. Ops come in rounds and a run holds a fixed number of whole
rounds. In ``update_mix`` a round is one checkpoint cycle
(``UpdatableStore`` checkpoints every 8 updates).

Expected answers come from two places:

- ``lookup``: a DuckDB query over the same parquet files, run after the
  timed window (``Expect.sql``).
- ``update_mix``: a python model of the subjects the op sequence touched,
  advanced op by op while the sequence is generated (``Expect.rows``).
"""

from __future__ import annotations

import itertools
import json
import math
import random
from collections import deque
from dataclasses import dataclass, field

CHECKPOINT_EVERY = 8
GAS = "PREFIX gas: <http://www.bigdata.com/rdf/gas#>\n"


@dataclass
class Expect:
    """``sql``: DuckDB query whose rows are the answer. ``rows``: the answer
    itself."""

    sql: str | None = None
    rows: list[tuple] | None = None


@dataclass
class Op:
    kind: str  # "read" | "write"
    shape: str
    text: str
    expect: Expect | None = None
    meta: dict = field(default_factory=dict)


# ---------------------------------------------------------------- lookup --
def lookup_rounds(seed: int, sizes: dict[str, int]):
    """One round = a point read, a subject star and a one-hop FK join, in a
    seeded order, each on a key drawn uniformly over its table's key range."""
    rng = random.Random(seed)
    n_cust, n_ord = sizes["customer"], sizes["orders"]
    while True:
        o1, c, o2 = rng.randrange(n_ord), rng.randrange(n_cust), rng.randrange(n_ord)
        ops = [
            Op("read", "point",
               f"SELECT ?tp WHERE {{ <orders:{o1}> <orders#o_totalprice> ?tp }}",
               Expect(sql=f"SELECT o_totalprice FROM orders WHERE o_orderkey = {o1}")),
            Op("read", "star",
               f"SELECT ?name ?bal ?seg ?nat WHERE {{ <customer:{c}> <customer#c_name> ?name ; "
               f"<customer#c_acctbal> ?bal ; <customer#c_mktsegment> ?seg ; "
               f"<customer#c_nationkey_ref> ?nat }}",
               Expect(sql="SELECT c_name, c_acctbal, c_mktsegment, 'nation:' || c_nationkey "
                          f"FROM customer WHERE c_custkey = {c}")),
            Op("read", "fk_join",
               f"SELECT ?c ?name WHERE {{ <orders:{o2}> <orders#o_custkey_ref> ?c . "
               f"?c <customer#c_name> ?name }}",
               Expect(sql="SELECT 'customer:' || c_custkey, c_name FROM orders "
                          f"JOIN customer ON o_custkey = c_custkey WHERE o_orderkey = {o2}")),
        ]
        rng.shuffle(ops)
        yield ops


# ------------------------------------------------------------ update_mix --
TAG = "urn:bench#tag"
LINK = "urn:bench#link"


class UpdateModel:
    """What the store must hold for the subjects the sequence touches: the
    benchmark's own tag and link triples, plus base customer market segments
    (read from the base data, then rewritten by updates)."""

    def __init__(self, segments: dict[int, str]):
        self.segments = dict(segments)
        self.tags: set[tuple[int, str]] = set()
        self.edges: set[tuple[int, int]] = set()
        self.next_node = 1

    def depths(self) -> dict[int, int]:
        """BFS depth of every node reachable from node 0."""
        adj: dict[int, list[int]] = {}
        for a, b in self.edges:
            adj.setdefault(a, []).append(b)
        depth = {0: 0}
        todo = deque([0])
        while todo:
            a = todo.popleft()
            for b in adj.get(a, []):
                if b not in depth:
                    depth[b] = depth[a] + 1
                    todo.append(b)
        return depth


def update_cycles(seed: int, segments: dict[int, str]):
    """One round = one checkpoint cycle: 8 updates and 4 read-your-writes
    SELECTs whose answers the model predicts. Updates cover INSERT DATA,
    DELETE DATA and a DELETE…INSERT…WHERE that rewrites a base-data triple.
    Reads are a GAS BFS (``SERVICE gas:service``) over the inserted link
    graph at versions 2 and 6 of the cycle, then a predicate scan of the
    tags and a point read of the rewritten triple after the checkpoint.

    Every read re-runs the version's whole lineage back to the last
    checkpoint (seconds per read by version 4), and a DELETE…INSERT…WHERE
    embeds its WHERE plan in the next version, doubling it. One such update
    per cycle, just before the checkpoint, and four reads keep a whole cycle
    well inside one run."""
    rng = random.Random(seed)
    m = UpdateModel(segments)
    keys = sorted(segments)
    for c in itertools.count():
        k1, k2, k3 = rng.sample(keys, 3)
        ops: list[Op] = []

        def write(shape: str, text: str) -> None:
            ops.append(Op("write", shape, text))

        def read(shape: str, text: str, rows: list[tuple], meta: dict | None = None) -> None:
            ops.append(Op("read", shape, text, Expect(rows=rows), meta or {}))

        def read_tags() -> None:
            read("tags", f"SELECT ?c ?t WHERE {{ ?c <{TAG}> ?t }}",
                 [(f"customer:{k}", t) for k, t in m.tags])

        def read_bfs() -> None:
            read("gas_bfs",
                 GAS + "SELECT ?v ?d WHERE { SERVICE gas:service { "
                 'gas:program gas:gasClass "com.bigdata.rdf.graph.analytics.BFS" . '
                 f"gas:program gas:in <urn:bench:n0> . gas:program gas:linkType <{LINK}> . "
                 "gas:program gas:out ?v . gas:program gas:out1 ?d . } }",
                 [(f"urn:bench:n{n}", d) for n, d in m.depths().items()], {"edges": len(m.edges)})

        def grow(n: int) -> list[tuple[int, int]]:
            new = []
            for _ in range(n):
                parent = rng.choice(sorted(m.depths()))
                new.append((parent, m.next_node))
                m.next_node += 1
            m.edges.update(new)
            return new

        def edge_triples(edges) -> str:
            return " ".join(f"<urn:bench:n{a}> <{LINK}> <urn:bench:n{b}> ." for a, b in edges)

        # 1: insert two tags
        m.tags |= {(k1, f"c{c}a"), (k2, f"c{c}b")}
        write("insert_data", "INSERT DATA { "
              f'<customer:{k1}> <{TAG}> "c{c}a" . <customer:{k2}> <{TAG}> "c{c}b" . }}')
        # 2: grow the link graph
        write("insert_data", "INSERT DATA { " + edge_triples(grow(2)) + " }")
        read_bfs()
        # 3: delete one tag
        m.tags.discard((k1, f"c{c}a"))
        write("delete_data", f'DELETE DATA {{ <customer:{k1}> <{TAG}> "c{c}a" . }}')
        # 4: another tag on k2
        m.tags.add((k2, f"c{c}m"))
        write("insert_data", f'INSERT DATA {{ <customer:{k2}> <{TAG}> "c{c}m" . }}')
        # 5: grow again
        leaf_edges = grow(2)
        write("insert_data", "INSERT DATA { " + edge_triples(leaf_edges) + " }")
        # 6: cut the newest leaf
        m.edges.discard(leaf_edges[-1])
        write("delete_data", "DELETE DATA { " + edge_triples(leaf_edges[-1:]) + " }")
        read_bfs()
        # 7: rewrite a base-data triple
        m.segments[k3] = f"BENCH{c}"
        write("delete_insert", f"DELETE {{ <customer:{k3}> <customer#c_mktsegment> ?s }} "
              f'INSERT {{ <customer:{k3}> <customer#c_mktsegment> "BENCH{c}" }} '
              f"WHERE {{ <customer:{k3}> <customer#c_mktsegment> ?s }}")
        # 8: the checkpointing update
        m.tags.add((k1, f"c{c}z"))
        write("insert_data", f'INSERT DATA {{ <customer:{k1}> <{TAG}> "c{c}z" . }}')
        read_tags()
        read("base_point", f"SELECT ?seg WHERE {{ <customer:{k3}> <customer#c_mktsegment> ?seg }}",
             [(m.segments[k3],)])
        yield ops


# ------------------------------------------------------------ answers --
def result_rows(body: bytes) -> list[tuple]:
    """Rows of a SPARQL JSON SELECT result, in result order."""
    doc = json.loads(body)
    names = doc["head"]["vars"]
    return [
        tuple(b[v]["value"] if v in b else None for v in names)
        for b in doc["results"]["bindings"]
    ]


def _num(v):
    if isinstance(v, (int, float)):
        return float(v)
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def _same(a, b) -> bool:
    fa, fb = _num(a), _num(b)
    if fa is not None and fb is not None:
        return math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-9)
    return (None if a is None else str(a)) == (None if b is None else str(b))


def _sort_key(row: tuple) -> tuple:
    out = []
    for v in row:
        f = _num(v)
        out.append((0, round(f, 6), "") if f is not None else (1, 0.0, "" if v is None else str(v)))
    return tuple(out)


def same_answer(got: list[tuple], want: list[tuple]) -> bool:
    """Row-multiset equality, numbers compared with a relative tolerance of
    1e-9."""
    if len(got) != len(want):
        return False
    got, want = sorted(got, key=_sort_key), sorted(want, key=_sort_key)
    for g, w in zip(got, want):
        if len(g) != len(w) or not all(_same(a, b) for a, b in zip(g, w)):
            return False
    return True


# workload -> scale factor of its store
WORKLOADS = {"lookup": 0.1, "update_mix": 0.001}
