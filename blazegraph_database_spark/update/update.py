"""SPARQL UPDATE (SURVEY.md §2.9).

Reference analog: the sparql.ast update nodes (InsertData/DeleteData/
DeleteInsertGraph/LoadGraph/ClearGraph/CopyGraph/MoveGraph/AddGraph —
bigdata-core/bigdata-rdf/.../sparql/ast/*Update*.java, evaluated by
AST2BOpUpdate.java) and the journal's MVCC commit points.

Spark-first: every update produces a NEW immutable version — never
mutation — so readers keep whatever version they hold (snapshot isolation
for free), and ``snapshot``/``load_snapshot`` persist versions as
immutable parquet directories, the journal-commit-point analog.

A version is ``(base, added, removed)`` (``model.store.DeltaStore``):
``base`` is the last compacted store, shared with its memo (lazy union,
stats, virtual-index sources) by every version built on it, and
``added``/``removed`` are exact Δ row sets held on the driver, with
``added ∩ base = ∅`` and ``removed ⊆ base``. INSERT DATA and DELETE DATA
take key rows the driver already holds (a DataFrame comes to the driver
in the driver tier's bounded collect first); DELETE/INSERT WHERE brings
its instantiated templates there the same way. A row the Δ does not
decide is in the base iff it is in the current version: rows a one-pattern
WHERE's own solutions decide need nothing more, and the rest are settled
by ONE probe job against the base's per-predicate sources (rows of a
predicate the base's stats rule out need none). The write then commits
set algebra on the Δ. Reads compose the Δ with the base instead of
replaying a lineage.

Past the driver gate, and for the whole-store verbs (graph ops, LOAD,
CLEAR, the quad upgrade, the truth-maintenance closure paths), a write
compacts: the new version is a new base, its DataFrame locally
checkpointed. DELETE/INSERT WHERE evaluates the WHERE once and
instantiates both templates from the same bindings, like the reference's
single-WHERE two-template evaluation.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blazegraph_database_spark.model.store import (
    QUAD_COLS,
    TRIPLE_COLS,
    DeltaStore,
    TripleStore,
    key_join,
    key_rows,
    rows_frame,
)
from blazegraph_database_spark.model.terms import (
    DT_BNODE,
    DT_IRI,
    Lit,
    Var,
    const_lex,
    is_const,
    sid_col,
)
from blazegraph_database_spark.operators import driver_tier
from blazegraph_database_spark.plans import algebra as A
from blazegraph_database_spark.plans.compiler import _pred_aliases, evaluate, instantiate_template

# graph-ref sentinel for the default graph (COPY/MOVE/ADD ... DEFAULT); the
# default graph is stored as g=NULL, matching the reference's null context
DEFAULT_GRAPH = "default"


def _g_is(g: str):
    """Column condition: row belongs to graph ref `g` (NULL = default)."""
    c = F.col("g")
    return c.isNull() if g == DEFAULT_GRAPH else c.eqNullSafe(F.lit(g))


def _g_lit(g: str):
    """Literal g value for graph ref `g` (default → NULL)."""
    return F.lit(None).cast("string") if g == DEFAULT_GRAPH else F.lit(g)


def _aligned(df: DataFrame, keys: list[str]) -> DataFrame:
    """``df``'s key columns in ``keys`` order; a missing one is NULL (a
    triples frame written to a quad store lands in the default graph)."""
    have = set(df.columns)
    return df.select(*[c if c in have else F.lit(None).cast("string").alias(c) for c in keys])


def _delta_of(version: TripleStore) -> tuple[TripleStore, dict, dict]:
    """(base, added, removed) of a version; a compacted version is its own
    base with an empty Δ."""
    if isinstance(version, DeltaStore):
        return version.base, version.added, version.removed
    return version, {}, {}


def _in_base(base: TripleStore, rows: set, keys: list[str]) -> set:
    """The rows of ``rows`` the base holds, from ONE probe job: the base
    sources of their predicates (the base's melted union for predicates
    without one) filtered by the rows' literal predicate, or semi-joined to
    them past ``LITERAL_MAX_ROWS`` (``key_rows``). A predicate the base
    cannot hold needs no probe."""
    preds = sorted({r[1] for r in rows if base.may_hold(r[1])})
    if not preds:
        return set()
    srcs = {p: base.pattern_source(p) for p in preds}
    parts = [src.select(*keys) for src in srcs.values() if src is not None]
    rest = [p for p, src in srcs.items() if src is None]
    if rest:
        parts.append(base.df.filter(F.col("p").isin(rest)).select(*keys))
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    probe = key_rows(base.spark, rows, keys)
    return {tuple(r) for r in key_join(out, probe, "left_semi", keys).collect()}


def _settling_pattern(where_plan):
    """The WHERE's one triple pattern P when its solutions spell every
    current triple matching P exactly as stored, else None. That fails for
    a constant with two spellings (``_pred_aliases``: the solution carries
    the pattern's spelling), an embedded statement, and a repeated variable
    (``?x p ?x`` takes the object's companion type from the subject,
    ``iri``). Callers leave quads out: a default-graph pattern is the merge
    of the graphs."""
    sp = where_plan
    if isinstance(sp, A.BGP):
        if sp.hints or len(sp.patterns) != 1:
            return None
        (sp,) = sp.patterns
    if not isinstance(sp, A.SP) or sp.g is not None:
        return None
    terms = (sp.s, sp.p, sp.o)
    names = [t.name for t in terms if isinstance(t, Var)]
    if len(names) != len(set(names)):
        return None
    for t in terms:
        if isinstance(t, Var):
            continue
        if not is_const(t) or not isinstance(t, Lit) and len(_pred_aliases(const_lex(t))) > 1:
            return None
    return sp


def _term_key(t):
    """(lexical, type) of a constant term; None for anything else."""
    if not is_const(t):
        return None
    return const_lex(t), t.dt if isinstance(t, Lit) else DT_IRI


def _may_match(sp: A.SP, entry: tuple) -> bool:
    """False when a template entry's constants rule out every match of
    ``sp``: its rows then need the probe, and P's rows are not worth
    collecting."""
    return all(
        a is None or b is None or a == b
        for a, b in zip(map(_term_key, entry[:3]), map(_term_key, (sp.s, sp.p, sp.o)))
    )


def _matches(sp: A.SP, row: tuple) -> bool:
    """True when key row ``row`` is an instance of ``sp`` (each constant
    equals the row's term) with no blank node: the `__dt` companion reads a
    stored ``bnode`` tag as ``iri``, so such a row is left to the probe."""
    s, p, o_lex, o_dt = row[:4]
    if s.startswith("_:") or o_lex.startswith("_:") or o_dt == DT_BNODE:
        return False
    if any(not isinstance(t, Var) and const_lex(t) != lex for t, lex in ((sp.s, s), (sp.p, p))):
        return False
    return isinstance(sp.o, Var) or _term_key(sp.o) == (o_lex, o_dt)


def _rows(delta: dict) -> frozenset:
    return frozenset().union(*delta.values())


@dataclass
class UpdatableStore:
    """Versioned triple/quad store with SPARQL UPDATE verbs.

    ``versions[-1]`` is current; older versions remain readable (snapshot
    isolation). A version is a compacted base or a ``DeltaStore`` over one
    (see the module docstring): a write under the driver gate adds a Δ
    version on the current base, a bigger or whole-store write compacts
    into a new base, so no read replays a lineage of writes. Every version
    enters through :meth:`commit`.
    """

    versions: list[TripleStore] = field(default_factory=list)
    # explicit (asserted) triples for closure truth maintenance; None until
    # the first *_with_closure call seeds it from the current store
    _explicit: DataFrame | None = None
    # True once the current version IS the closure of _explicit — the
    # precondition for the delta maintenance paths (delta_assert /
    # dred_retract); the first *_with_closure call closes from scratch
    _closed_valid: bool = False
    # ENABLE/DISABLE ENTAILMENTS verb state (ref: ast/EnableEntailments.java
    # — setTruthMaintenance on the SAIL connection): when True, apply_update
    # routes data ops through the *_with_closure truth-maintenance paths
    tm_enabled: bool = False
    # the INFERRED statement set (the reference marks each statement
    # Explicit/Inferred — StatementEnum; removeAllEntailments removes the
    # Inferred ones). Maintained by the closure paths; an explicit INSERT
    # of an inferred triple DOWNGRADES it to explicit (survives the drop),
    # mirroring the reference's statement-type upgrade on re-assertion.
    _inferred: DataFrame | None = None
    # persisted named solution sets (ref: ssets/SolutionSetManager.java);
    # lazily created by solutions_manager(). Shared across clones/txs like
    # the reference's cache connection (solution sets live OUTSIDE tx
    # isolation — they are a cache, not part of the commit point).
    solutions: object = None

    @classmethod
    def from_store(cls, store: TripleStore) -> "UpdatableStore":
        return cls(versions=[store])

    def clone(self) -> "UpdatableStore":
        """Independent view sharing the immutable version history: updates
        on the clone never touch this store (versions are append-only
        TripleStores, so a list copy is a full isolation boundary). The
        REST transaction API builds its per-transaction shadow from this
        (ref: the unisolated SAIL connection each Tx wraps)."""
        return UpdatableStore(
            versions=list(self.versions),
            _explicit=self._explicit,
            _closed_valid=self._closed_valid,
            tm_enabled=self.tm_enabled,
            _inferred=self._inferred,
            solutions=self.solutions,
        )

    @property
    def current(self) -> TripleStore:
        return self.versions[-1]

    # --------------------------------------------------------- changelog --
    def changelog(self, since: int = 0, until: int | None = None) -> DataFrame:
        """Per-commit change records over the MVCC version list (ref: the
        history service — ast/service/history/HistoryServiceFactory.java:1,
        HistoryChangeRecord.java, and the RDR change-capture variant
        bigdata-sails/.../RDRHistory.java: each change event records the
        statement, the action (added/removed) and the commit).

        Returns one row per changed statement per commit in (since, until]:
        ``(commit, action, s, p, o_lex, o_dt[, g])`` with action in
        {'added','removed'}; statement identity is (s,p,o_lex,o_dt[,g])
        set semantics, matching the store's verbs. A commit between two
        versions on the same base is read off their Δs on the driver, with
        no Spark job; only a commit made by a compacting verb needs the
        pair of anti-joins between the adjacent versions."""
        until = len(self.versions) - 1 if until is None else until
        if not 0 <= since <= until < len(self.versions):
            raise IndexError(
                f"changelog range ({since}, {until}] outside 0..{len(self.versions) - 1}"
            )
        keys = QUAD_COLS if self.current.has_graphs else TRIPLE_COLS
        events: list[tuple] = []
        parts: list[DataFrame] = []
        for i in range(since + 1, until + 1):
            pb, pa, pr = _delta_of(self.versions[i - 1])
            cb, ca, cr = _delta_of(self.versions[i])
            if pb is cb:
                pa, pr, ca, cr = _rows(pa), _rows(pr), _rows(ca), _rows(cr)
                for action, rows in (("added", (ca - pa) | (pr - cr)), ("removed", (cr - pr) | (pa - ca))):
                    events += [(i, action, *r) + (None,) * (len(keys) - len(r)) for r in rows]
                continue
            cur, prev = self.versions[i].df, self.versions[i - 1].df
            k = QUAD_COLS if "g" in cur.columns or "g" in prev.columns else TRIPLE_COLS
            cur, prev = _aligned(cur, k), _aligned(prev, k)
            for action, left, right in (("added", cur, prev), ("removed", prev, cur)):
                # null-safe on g: the default graph is g=NULL and must
                # compare equal to itself (same discipline as delete_data)
                delta = key_join(left, right, "left_anti", k, broadcast=False).dropDuplicates(k)
                parts.append(delta.select(F.lit(i).alias("commit"), F.lit(action).alias("action"), *k))
        if events or not parts:
            schema = "commit int, action string, " + ", ".join(f"{c} string" for c in keys)
            parts.insert(0, driver_tier.to_frame(self.current.spark, events, schema))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def rdr_history(self, since: int = 0, until: int | None = None) -> DataFrame:
        """Change events as RDR statement metadata (ref: bigdata-sails/
        .../RDRHistory.java:61 — each change appends
        ``<< s p o >> blaze:history:added|removed "commit"^^xsd:long``,
        queryable with ordinary SPARQL-star patterns; registered as
        SERVICE <bd:rdrhistory>, RDRHistoryServiceFactory.java). The
        subject is the engine's deterministic sid encoding of the changed
        statement; the object is the MVCC commit point (the reference uses
        the commit time — same role, and this engine's commit points ARE
        its version ordinals)."""
        log = self.changelog(since, until)
        return log.select(
            sid_col().alias("s"),
            F.concat(F.lit("blaze:history:"), F.col("action")).alias("p"),
            F.col("commit").cast("string").alias("o_lex"),
            F.lit("long").alias("o_dt"),
        )

    def history_store(self, since: int = 0, until: int | None = None) -> TripleStore:
        """Store view for SPARQL-star history queries: every statement that
        EVER existed in (since, until] (current ∪ removed — RDR semantics
        need the inner statement present for the sid join) plus the
        rdr_history metadata rows. Δ-sized on top of the current version:
        the union adds only removed statements and one metadata row per
        change, never a full copy of a past version."""
        cur = self.current.df.select("s", "p", "o_lex", "o_dt")
        log = self.changelog(since, until)
        removed = log.filter(F.col("action") == "removed").select(
            "s", "p", "o_lex", "o_dt"
        )
        return TripleStore(
            cur.unionByName(removed).distinct().unionByName(
                self.rdr_history(since, until)
            )
        )

    # ----------------------------------------------------- solution sets --
    def solutions_manager(self, path: str | None = None):
        """The store's named-solution-set cache (ref: AST2BOpContext.
        solutionSetManager). Pass ``path`` on first call for parquet-backed
        durability across processes."""
        if self.solutions is None:
            from blazegraph_database_spark.update.solutions import SolutionSetManager

            self.solutions = SolutionSetManager(self.current.spark, path)
        return self.solutions

    @property
    def query_store(self) -> TripleStore:
        """Current version with persisted named solution sets attached, so
        ``INCLUDE %name`` in a LATER query resolves against sets written by
        earlier UPDATE requests (ref: NamedSubqueryInclude resolving
        through the solution-set cache). Query-local WITH %name shadows a
        persisted set of the same name (WithNamed merges on top).

        The view is a fresh shallow view of the current version on every
        call, so it costs nothing; the DATA memos (predicate stats for join
        ordering, the lazily built union, the checkpointed full-text
        indexes) live on the version and every view of it shares them, so
        they survive across requests until a new commit. We never hand out
        ``self.current`` itself: versions can be shared across tx shadows,
        and the ``updatable`` back-pointer (needed by SERVICE <bd:history> —
        the MVCC version list IS the history index) must belong to THIS
        UpdatableStore."""
        sets = self.solutions.sets() if self.solutions is not None else {}
        return self.current.view(updatable=self, named_sets=sets)

    @property
    def explicit_store(self) -> TripleStore:
        """The EXPLICIT statement set as a queryable store — the
        ``includeInferred=false`` view (ref: BigdataRDFContext.java:771 —
        every SAIL query task carries the includeInferred flag; BLZG-1207
        fixed getStatements ignoring it). Before any closure is computed
        the current version IS the explicit set; afterwards the tracked
        explicit DataFrame is the source of truth. Memoized per explicit
        snapshot so stats/indexes survive across requests like
        query_store's."""
        if self._explicit is None:
            return self.current.view(updatable=self)
        cached = getattr(self, "_estore_memo", None)
        if cached is not None and cached[0] is self._explicit:
            return cached[1]
        out = TripleStore(self._explicit)
        out.updatable = self
        self._estore_memo = (self._explicit, out)
        return out

    def insert_into_solutions(
        self, name: str, where, project=None, distinct: bool = False
    ) -> None:
        """``INSERT INTO %name SELECT ... WHERE {...}`` — evaluate WHERE,
        project, and REPLACE the named set (ref AST2BOpUpdate.java:891 +
        ISolutionSetManager.putSolutions "replace not append")."""
        node = where
        if project:
            node = A.Project(node, tuple(project))
        if distinct:
            node = A.Distinct(node)
        self.solutions_manager().put(name, evaluate(self.query_store, node))

    def delete_from_solutions(
        self, name: str, where, project=None, distinct: bool = False
    ) -> None:
        """``DELETE FROM %name SELECT ... WHERE {...}`` — new set =
        project(INCLUDE %name MINUS where-solutions), replacing the set
        (ref AST2BOpUpdate.java:728-815: INCLUDE %set MINUS INCLUDE %temp
        with the delete clause's projection)."""
        from blazegraph_database_spark.update.solutions import (
            SolutionSetDoesNotExistError,
        )

        mgr = self.solutions_manager()
        if not mgr.exists(name):
            raise SolutionSetDoesNotExistError(name)
        node = A.Minus(A.NamedInclude(name), where)
        if project:
            node = A.Project(node, tuple(project))
        if distinct:
            node = A.Distinct(node)
        mgr.put(name, evaluate(self.query_store, node))

    def commit(self, version: TripleStore, bookkeeping: "UpdatableStore | None" = None) -> TripleStore:
        """Append ``version`` as the new commit point — the one way a version
        enters the history.

        A commit invalidates the closure bookkeeping ("current == closure of
        _explicit", _explicit itself and the Explicit/Inferred partition):
        the *_with_closure paths and the DATA verbs re-set what they
        maintain after their own commit, so interleaved plain verbs
        (delete_insert_where, graph ops, load) force the next closure call
        to re-seed from the live store, and DROP ENTAILMENTS degrades to a
        safe no-op instead of deleting asserted data. ``bookkeeping`` (a
        transaction shadow whose bookkeeping describes ``version``) hands
        its state over instead."""
        self.versions.append(version)
        src = bookkeeping if bookkeeping is not None else UpdatableStore()
        self._closed_valid, self._explicit = src._closed_valid, src._explicit
        self._inferred = src._inferred
        return version

    def _compact(self, df: DataFrame) -> TripleStore:
        """Commit the whole-store result ``df`` as a new base, locally
        checkpointed (lazily — the first read materializes it), so no later
        version replays its lineage."""
        return self.commit(TripleStore(df.localCheckpoint(eager=False)))

    def _write(self, deletes, inserts, decided=frozenset(), present=frozenset()) -> TripleStore:
        """Commit "delete ``deletes``, then insert ``inserts``" (key-row
        tuples) as a Δ on the current base. A row the Δ does not decide is
        in the base iff it is in the current version: the rows of
        ``decided`` are in the current version iff they are in ``present``,
        and the rest are settled against the base by one probe. The result
        keeps ``added ∩ base = ∅`` and ``removed ⊆ base``. A Δ past the
        driver gate compacts into a new base."""
        base, added0, removed0 = _delta_of(self.current)
        keys = QUAD_COLS if base.has_graphs else TRIPLE_COLS
        # the edits below assume each row once: a repeated insert of a row
        # removed from the base would add it back to `added` too
        deletes, inserts = set(deletes), set(inserts)
        open_rows = {
            r for r in (*deletes, *inserts)
            if r not in added0.get(r[1], ()) and r not in removed0.get(r[1], ())
        }
        settled = open_rows & decided
        held = (settled & present) | _in_base(base, open_rows - settled, keys)
        added, removed = dict(added0), dict(removed0)

        def edit(delta: dict, p: str) -> set:
            # copy-on-write per predicate: untouched predicates keep sharing
            # the previous version's frozensets
            rows = delta.get(p)
            if not isinstance(rows, set):
                rows = delta[p] = set(rows or ())
            return rows

        for r in deletes:
            if r in added.get(r[1], ()):
                edit(added, r[1]).discard(r)
            elif r in held:
                edit(removed, r[1]).add(r)
        for r in inserts:
            if r in removed.get(r[1], ()):
                edit(removed, r[1]).discard(r)
            elif r not in held:
                edit(added, r[1]).add(r)
        added = {p: frozenset(rs) for p, rs in added.items() if rs}
        removed = {p: frozenset(rs) for p, rs in removed.items() if rs}
        if added == added0 and removed == removed0:
            return self.commit(self.current)  # a no-op write: same content
        if not added and not removed:
            return self.commit(base)
        version = DeltaStore(base, added, removed)
        size = sum(map(len, added.values())) + sum(map(len, removed.values()))
        if size > driver_tier.DRIVER_TIER_MAX_ROWS:
            return self._compact(version.df)
        return self.commit(version)

    # ------------------------------------------------------- transactions --
    def transaction(self):
        """Group several update verbs into ONE commit point (ref: the SAIL
        connection's begin/commit/abort — BigdataSailConnection buffers
        writes until commit). Inside the block every verb still produces a
        readable intermediate version (read-your-writes); on normal exit
        the intermediates collapse into a single new commit point, and on
        exception the store rolls back to its pre-transaction state
        (including the truth-maintenance bookkeeping).

            with store.transaction():
                store.insert_data(...)
                store.delete_data(...)
        """
        from contextlib import contextmanager

        @contextmanager
        def txn():
            base = len(self.versions)
            # _inferred is part of the TM bookkeeping: a rolled-back
            # CREATE/DROP ENTAILMENTS must restore it too, or a later DROP
            # anti-joins against a stale (or cleared) inferred set (r8;
            # the entailments_rollback oracle pins this)
            saved = (self._explicit, self._closed_valid, self._inferred)
            try:
                yield self
            except Exception:
                del self.versions[base:]
                self._explicit, self._closed_valid, self._inferred = saved
                raise
            else:
                if len(self.versions) > base + 1:
                    final = self.versions[-1]
                    del self.versions[base:]
                    self.versions.append(final)

        return txn()

    # ------------------------------------------------------------- verbs --
    def insert_data(self, triples) -> TripleStore:
        """INSERT DATA: add ground triples (set semantics) as a Δ."""
        return self._data(triples, insert=True)

    def delete_data(self, triples) -> TripleStore:
        """DELETE DATA: remove a ground triple set as a Δ. Quad stores match
        null-safely on g, so default-graph triples (g=NULL) actually delete
        (ADVICE round 2: NULL never equals NULL in a plain equi-join)."""
        return self._data(triples, insert=False)

    def _data(self, triples, insert: bool) -> TripleStore:
        """``triples`` is key-row tuples (s, p, o_lex, o_dt[, g]) or a
        DataFrame. A frame comes to the driver in the bounded collect; the
        rows then go to :meth:`_write`, and only the paths that need a frame
        (the quad upgrade, a write past the driver gate) build one."""
        cur = self.current
        if isinstance(triples, DataFrame):
            # data carrying a graph column upgrades a triples-only store to
            # quads (existing rows land in the default graph, g = NULL): a
            # whole-store write
            upgrade = "g" in triples.columns and not cur.has_graphs
            keys = QUAD_COLS if upgrade or cur.has_graphs else TRIPLE_COLS
            data = _aligned(triples, keys)
            rows = None if upgrade else driver_tier.collect_rows(data, driver_tier.DRIVER_TIER_MAX_ROWS)
            rows = None if rows is None else [tuple(r) for r in rows]
        else:
            rows = [tuple(r) for r in triples]
            upgrade = not cur.has_graphs and any(len(r) > len(TRIPLE_COLS) for r in rows)
            keys = QUAD_COLS if upgrade or cur.has_graphs else TRIPLE_COLS
            # a triple written to a quad store lands in the default graph
            rows = [r + (None,) * (len(keys) - len(r)) for r in rows]
            data = None
            if upgrade or len(rows) > driver_tier.DRIVER_TIER_MAX_ROWS:
                data, rows = rows_frame(cur.spark, rows, keys), None
        inf = None
        if self._inferred is not None and "g" not in keys:
            # the Inferred partition stays a subset of the live store, and
            # explicitly asserting an inferred triple upgrades it to
            # Explicit (ref: StatementEnum.max on re-assertion) — it then
            # survives DROP ENTAILMENTS
            side = data if rows is None else key_rows(cur.spark, rows, keys)
            inf = key_join(self._inferred, side, "left_anti", keys, broadcast=False)
        if rows is not None:
            st = self._write((), rows) if insert else self._write(rows, ())
        else:  # past the gate, or the quad upgrade
            whole = _aligned(cur.df, keys)
            st = self._compact(
                whole.unionByName(data).distinct() if insert
                else key_join(whole, data, "left_anti", keys, broadcast=False)
            )
        self._inferred = inf
        return st

    def delete_insert_where(
        self,
        where_plan,
        delete_template: list[tuple] | None = None,
        insert_template: list[tuple] | None = None,
        with_graph: str | None = None,
    ) -> TripleStore:
        """DELETE { t1 } INSERT { t2 } WHERE { P }: one WHERE evaluation,
        both templates instantiated from the same bindings (ref:
        DeleteInsertGraph semantics — delete first, then insert). The
        instantiated triples come to the driver in one bounded collect and
        commit as a Δ, so the WHERE plan never becomes part of a version.

        When the WHERE is one triple pattern P (:func:`_settling_pattern`),
        its solutions are every current triple matching P, so a template
        row that matches P is in the current version iff it is among P's
        instantiated solutions: P is instantiated in the same pass, and
        those rows need no probe.

        On quad stores the templates are graph-aware: an entry's explicit
        GRAPH wins, else ``with_graph`` (the UPDATE's WITH <g>), else the
        default graph (g=NULL) — so DELETE/INSERT WHERE no longer touches
        matching triples in *every* graph (ADVICE r3). Deletes match
        null-safely on (s,p,o_lex,o_dt,g)."""
        cur = self.current
        # WITH <g> / GRAPH-wrapped templates target a named graph: a
        # triples-only store upgrades to quads first (default graph = NULL)
        needs_g = with_graph is not None or any(
            len(t) > 3 and t[3] is not None
            for t in (delete_template or []) + (insert_template or [])
        )
        if needs_g and not cur.has_graphs:
            cur = self._compact(cur.df.withColumn("g", F.lit(None).cast("string")))
        is_quads = cur.has_graphs
        keys = QUAD_COLS if is_quads else TRIPLE_COLS
        # dt-tracked bindings: object-var datatypes ride along as `<var>__dt`
        # companions, so instantiated triples carry the bound term's true type
        # and the delete matches IRIs and typed literals, not just plain
        # strings (ADVICE round 1, high).
        # named_sets attached so `INCLUDE %set` works inside UPDATE WHERE
        # clauses too — the reference's primary solution-set use case
        # (compute once, then modify the graph; review r5-4)
        sets = self.solutions.sets() if self.solutions is not None else {}
        bindings = evaluate(cur.view(track_dt=True, named_sets=sets), where_plan)
        # one pass over the bindings instantiates both templates (and P),
        # each row tagged with its entry index `__i`; no distinct(): _write
        # works on sets
        dels, ins = list(delete_template or ()), list(insert_template or ())
        if not dels and not ins:
            return self.commit(cur)
        nd, nt = len(dels), len(dels) + len(ins)
        sp = None if is_quads else _settling_pattern(where_plan)
        if sp is not None and not any(_may_match(sp, t) for t in dels + ins):
            sp = None
        both = instantiate_template(
            bindings, dels + ins + ([(sp.s, sp.p, sp.o)] if sp else []),
            emit_g=is_quads, target_graph=with_graph, tagged=True,
        ).select(*keys, "__i")
        # a template triple with an unbound term is skipped (SPARQL 1.1
        # Update §3.1.3)
        both = both.filter(
            F.col("s").isNotNull() & F.col("p").isNotNull() & F.col("o_lex").isNotNull()
        )
        rows = driver_tier.collect_rows(both, driver_tier.DRIVER_TIER_MAX_ROWS)
        if rows is not None:
            deletes = [r[:-1] for r in rows if r[-1] < nd]
            inserts = [r[:-1] for r in rows if nd <= r[-1] < nt]
            decided = {r for r in (*deletes, *inserts) if _matches(sp, r)} if sp else set()
            return self._write(deletes, inserts, decided, {r[:-1] for r in rows if r[-1] >= nt})
        df = cur.df  # past the gate: the whole-store rewrite, compacted
        if dels:
            doomed = both.filter(F.col("__i") < nd).select(*keys)
            df = key_join(df, doomed, "left_anti", keys, broadcast=False)
        if ins:
            added = both.filter((F.col("__i") >= nd) & (F.col("__i") < nt)).select(*keys)
            df = df.unionByName(added).distinct()
        return self._compact(df)

    # --------------------------------------------------------- graph ops --
    def _require_quads(self) -> DataFrame:
        """Current statements with a graph column. A triples-only store
        upgrades in place on the first graph operation: existing rows land
        in the default graph (g = NULL) — the reference likewise serves
        quad operations on any store, defaulting statement contexts."""
        cur = self.current.df
        if "g" not in cur.columns:
            cur = self._compact(cur.withColumn("g", F.lit(None).cast("string"))).df
        return cur

    def clear_graph(self, g: str) -> TripleStore:
        """CLEAR GRAPH g (DROP is identical for our schema-less graphs).
        Null-preserving: default-graph rows (g=NULL) survive clearing a
        named graph, and CLEAR DEFAULT removes exactly the NULL-g rows."""
        return self._compact(self._require_quads().filter(~_g_is(g)))

    drop_graph = clear_graph

    def create_graph(self, g: str) -> TripleStore:
        """CREATE GRAPH: no-op for schema-less graphs (ref behaves the same
        without the SILENT-violation bookkeeping)."""
        return self.current

    def copy_graph(self, src: str, dst: str) -> TripleStore:
        """COPY: dst := src (dst's prior triples removed); either side may
        be DEFAULT (g=NULL)."""
        cur = self._require_quads()
        copied = cur.filter(_g_is(src)).withColumn("g", _g_lit(dst))
        return self._compact(cur.filter(~_g_is(dst)).unionByName(copied).distinct())

    def add_graph(self, src: str, dst: str) -> TripleStore:
        """ADD: dst := dst ∪ src."""
        cur = self._require_quads()
        copied = cur.filter(_g_is(src)).withColumn("g", _g_lit(dst))
        return self._compact(cur.unionByName(copied).distinct())

    def move_graph(self, src: str, dst: str) -> TripleStore:
        """MOVE: dst := src; src removed."""
        cur = self._require_quads()
        moved = cur.filter(_g_is(src)).withColumn("g", _g_lit(dst))
        return self._compact(cur.filter(~(_g_is(src) | _g_is(dst))).unionByName(moved).distinct())

    # -------------------------------------------------------- load/store --
    def load(self, spark: SparkSession, path: str, fmt: str = "ntriples", graph: str | None = None) -> TripleStore:
        """LOAD <path> [INTO GRAPH g] (ref: LoadGraph / DataLoader.java)."""
        from blazegraph_database_spark.sources import ntriples

        new = ntriples.read_ntriples(spark, path) if fmt == "ntriples" else spark.read.parquet(path)
        if graph is not None:
            new = new.withColumn("g", F.lit(graph))
        return self._compact(
            self.current.df.unionByName(new, allowMissingColumns=True).distinct()
        )

    def snapshot(self, path: str) -> str:
        """Persist the current version as an immutable parquet snapshot
        (journal commit point analog)."""
        self.current.df.write.mode("errorifexists").parquet(path)
        return path

    @staticmethod
    def load_snapshot(spark: SparkSession, path: str) -> "UpdatableStore":
        return UpdatableStore.from_store(TripleStore(spark.read.parquet(path)))

    def clear_scope(self, scope: str) -> TripleStore:
        """CLEAR/DROP over GraphRefAll targets (SPARQL 1.1 DEFAULT/NAMED/ALL +
        the reference's GRAPHS/SOLUTIONS extensions — grammar sparql.jjt
        GraphRefAll): DEFAULT empties the default graph, NAMED every named
        graph, GRAPHS all graphs, SOLUTIONS every named solution set, ALL
        both graphs and solution sets."""
        df = self.current.df
        if scope in ("all", "graphs", "solutions"):
            if scope != "graphs" and self.solutions is not None:
                for name in list(self.solutions.names()):
                    self.solutions.drop(name, silent=True)
            if scope == "solutions":
                return self.current
            return self._compact(df.limit(0))
        if not self.current.has_graphs:
            # triples-mode: the whole store IS the default graph
            return self._compact(df.limit(0)) if scope == "default" else self.commit(self.current)
        if scope == "default":
            return self._compact(df.filter(F.col("g").isNotNull() & (F.col("g") != "")))
        return self._compact(df.filter(F.col("g").isNull() | (F.col("g") == "")))

    # ---------------------------------------------------------- closure --
    def _touches_schema(self, triples: DataFrame) -> bool:
        from blazegraph_database_spark.inference.rdfs import SCHEMA_PREDS

        return bool(triples.filter(F.col("p").isin(*SCHEMA_PREDS)).take(1))

    def _commit_closure(self, closed: DataFrame, explicit: DataFrame) -> TripleStore:
        """Commit ``closed`` as the closure of ``explicit`` — the one tail of
        every closure path: compact, record the explicit set and that the
        current version is its closure, and rebuild the Inferred partition
        as the closure minus the explicit set."""
        st = self._compact(closed)
        self._explicit = explicit
        self._closed_valid = True
        self._inferred = st.df.join(
            explicit.select(*TRIPLE_COLS), on=TRIPLE_COLS, how="left_anti"
        ).localCheckpoint(eager=False)
        return st

    def insert_with_closure(self, triples: DataFrame) -> TripleStore:
        """Incremental RDFS maintenance on insert (ref: TruthMaintenance.java
        assertAll): data-only deltas forward-chain against the closed store —
        Δ-sized joins with broadcast schema, no corpus scan (delta_assert).
        Schema deltas (or the first call, before a closure exists) recompute
        the closure from the explicit set. Tracks the explicit (asserted)
        set so retraction can compensate exactly."""
        from blazegraph_database_spark.inference.rdfs import delta_assert, rdfs_closure

        delta = triples.select(*TRIPLE_COLS)
        explicit = (
            (self._explicit if self._explicit is not None else self.current.df)
            .unionByName(delta, allowMissingColumns=True)
            .distinct()
            .localCheckpoint(eager=False)
        )
        if self._closed_valid and not self._touches_schema(delta):
            closed = delta_assert(self.current.df.select(*TRIPLE_COLS), delta)
        else:
            closed = rdfs_closure(TripleStore(explicit)).df
        return self._commit_closure(closed, explicit)

    def create_entailments(self) -> TripleStore:
        """CREATE ENTAILMENTS (ref: ast/CreateEntailments.java;
        AST2BOpUpdate.convertCreateEntailments computes the database
        closure): materialize the RDFS+ closure of the explicit set as a
        new commit point; later TM-maintained updates take the delta
        paths."""
        from blazegraph_database_spark.inference.rdfs import rdfs_closure

        if "g" in self.current.df.columns:
            raise ValueError(
                "CREATE ENTAILMENTS needs a triples-mode store (the "
                "reference's truth maintenance is triples-mode too)"
            )
        explicit = (
            self._explicit if self._explicit is not None else self.current.df
        ).select(*TRIPLE_COLS)
        return self._commit_closure(rdfs_closure(TripleStore(explicit)).df, explicit)

    def drop_entailments(self) -> TripleStore:
        """DROP ENTAILMENTS (ref: ast/DropEntailments.java;
        removeAllEntailments): keep only the explicit (asserted)
        statements — the inferred ones disappear as one commit point."""
        if "g" in self.current.df.columns:
            raise ValueError(
                "DROP ENTAILMENTS needs a triples-mode store (the "
                "reference's truth maintenance is triples-mode too)"
            )
        kept = self.current.df.select(*TRIPLE_COLS)
        if self._inferred is not None:
            kept = kept.join(self._inferred, on=TRIPLE_COLS, how="left_anti")
        st = self._compact(kept)
        self._explicit = st.df
        self._inferred = None
        self._closed_valid = False
        return st

    def delete_with_closure(self, triples: DataFrame) -> TripleStore:
        """Truth maintenance on retraction (ref: TruthMaintenance.java
        retractAll): remove the asserted triples from the EXPLICIT set;
        inferences no longer derivable disappear, inferences still derivable
        from other support survive. Data-only deltas run delete/re-derive
        (inference.rdfs.dred_retract): Δ-sized rule joins plus ONE scan of
        the closed store — delete cost scales with the delta, not with a
        closure recompute. Schema deltas (rare, and schema-sized) fall back
        to recompute-from-explicit."""
        from blazegraph_database_spark.inference.rdfs import dred_retract, rdfs_closure

        delta = triples.select(*TRIPLE_COLS)
        explicit = (
            (self._explicit if self._explicit is not None else self.current.df)
            .join(F.broadcast(delta), on=TRIPLE_COLS, how="left_anti")
            .localCheckpoint(eager=False)
        )
        if self._closed_valid and not self._touches_schema(delta):
            closed = dred_retract(self.current.df.select(*TRIPLE_COLS), explicit, delta)
        else:
            closed = rdfs_closure(TripleStore(explicit)).df
        return self._commit_closure(closed, explicit)
