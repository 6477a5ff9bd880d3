"""SPARQL UPDATE (SURVEY.md §2.9).

Reference analog: the sparql.ast update nodes (InsertData/DeleteData/
DeleteInsertGraph/LoadGraph/ClearGraph/CopyGraph/MoveGraph/AddGraph —
bigdata-core/bigdata-rdf/.../sparql/ast/*Update*.java, evaluated by
AST2BOpUpdate.java) and the journal's MVCC commit points.

Spark-first: a store version is an immutable DataFrame; every update
produces a NEW version (union / anti-join — never mutation), and
``snapshot``/``load_snapshot`` persist versions as immutable parquet
directories — the journal-commit-point analog giving snapshot isolation
for free: readers keep whatever version they hold.

Scale notes: DELETE is an anti-join on (s,p,o_lex[,g]) — a broadcast
anti-join when the delete set is small (the common case). INSERT is a
union + (optional) dedup. DELETE/INSERT WHERE evaluates the WHERE once
and instantiates both templates from the same bindings DataFrame, like
the reference's single-WHERE two-template evaluation.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blazegraph_database_spark.model.store import TRIPLE_COLS, TripleStore
from blazegraph_database_spark.plans.compiler import construct, evaluate, instantiate_template

QUAD_COLS = TRIPLE_COLS + ["g"]

# graph-ref sentinel for the default graph (COPY/MOVE/ADD ... DEFAULT); the
# default graph is stored as g=NULL, matching the reference's null context
DEFAULT_GRAPH = "default"


def _key_cols(df: DataFrame) -> list[str]:
    return QUAD_COLS if "g" in df.columns else TRIPLE_COLS


def _g_is(g: str):
    """Column condition: row belongs to graph ref `g` (NULL = default)."""
    c = F.col("g")
    return c.isNull() if g == DEFAULT_GRAPH else c.eqNullSafe(F.lit(g))


def _g_lit(g: str):
    """Literal g value for graph ref `g` (default → NULL)."""
    return F.lit(None).cast("string") if g == DEFAULT_GRAPH else F.lit(g)


@dataclass
class UpdatableStore:
    """Versioned triple/quad store with SPARQL UPDATE verbs.

    ``versions[-1]`` is current; older versions remain readable (snapshot
    isolation). ``checkpoint_every`` truncates lineage so long update
    sequences don't grow unbounded plans.
    """

    versions: list[TripleStore] = field(default_factory=list)
    checkpoint_every: int = 8
    _updates: int = 0
    # explicit (asserted) triples for closure truth maintenance; None until
    # the first *_with_closure call seeds it from the current store
    _explicit: DataFrame | None = None
    # True once the current version IS the closure of _explicit — the
    # precondition for the delta maintenance paths (delta_assert /
    # dred_retract); the first *_with_closure call closes from scratch
    _closed_valid: bool = False
    # retraction strategy: "dred" (delete/re-derive, no side state) or
    # "counting" (per-triple derivation counts maintained across updates —
    # decrement-only deletes, right when deletes are frequent)
    tm_strategy: str = "dred"
    _counts: DataFrame | None = None
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
            checkpoint_every=self.checkpoint_every,
            _updates=self._updates,
            _explicit=self._explicit,
            _closed_valid=self._closed_valid,
            tm_strategy=self.tm_strategy,
            _counts=self._counts,
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
        {'added','removed'}. Spark-first: each commit's delta is a pair of
        anti-joins between adjacent immutable versions — Δ-sized results,
        no version is ever materialized to the driver; statement identity
        is (s,p,o_lex[,g]) set semantics, matching the store's verbs."""
        until = len(self.versions) - 1 if until is None else until
        if not 0 <= since <= until < len(self.versions):
            raise IndexError(
                f"changelog range ({since}, {until}] outside 0..{len(self.versions) - 1}"
            )
        spark = self.current.spark
        parts: list[DataFrame] = []
        for i in range(since + 1, until + 1):
            cur, prev = self.versions[i].df, self.versions[i - 1].df
            if "g" in cur.columns and "g" not in prev.columns:
                prev = prev.withColumn("g", F.lit(None).cast("string"))
            if "g" in prev.columns and "g" not in cur.columns:
                cur = cur.withColumn("g", F.lit(None).cast("string"))
            keys = _key_cols(cur)
            for action, left, right in (("added", cur, prev), ("removed", prev, cur)):
                # null-safe on g: the default graph is g=NULL and must
                # compare equal to itself (same discipline as delete_data).
                # The right side is RENAMED before the join: adjacent
                # versions share lineage, and same-named attributes can
                # resolve to one expression id (Spark's trivially-true
                # self-join warning) — which would silently loosen the
                # anti-join condition.
                r = right.select([F.col(c).alias(f"__r_{c}") for c in keys])
                cond = None
                for c in keys:
                    eq = F.col(c).eqNullSafe(F.col(f"__r_{c}"))
                    cond = eq if cond is None else cond & eq
                delta = left.join(r, on=cond, how="left_anti").dropDuplicates(keys)
                parts.append(
                    delta.select(
                        F.lit(i).alias("commit"), F.lit(action).alias("action"), "*"
                    )
                )
        if not parts:
            cols = "commit int, action string, s string, p string, o_lex string, o_dt string"
            if "g" in self.current.df.columns:
                cols += ", g string"
            return spark.createDataFrame([], cols)
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
        sid = F.concat(
            F.lit("<<"), F.col("s"), F.lit("|"), F.col("p"), F.lit("|"),
            F.col("o_lex"), F.lit("|"), F.col("o_dt"), F.lit(">>"),
        )
        return log.select(
            sid.alias("s"),
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
        base = self._explicit if self._explicit is not None else self.current.df
        cached = getattr(self, "_estore_memo", None)
        if cached is not None and cached[0] is base:
            return cached[1]
        out = TripleStore(base)
        out.updatable = self
        self._estore_memo = (base, out)
        return out

    def insert_into_solutions(
        self, name: str, where, project=None, distinct: bool = False
    ) -> None:
        """``INSERT INTO %name SELECT ... WHERE {...}`` — evaluate WHERE,
        project, and REPLACE the named set (ref AST2BOpUpdate.java:891 +
        ISolutionSetManager.putSolutions "replace not append")."""
        from blazegraph_database_spark.plans import algebra as A
        from blazegraph_database_spark.plans.compiler import evaluate

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
        from blazegraph_database_spark.plans import algebra as A
        from blazegraph_database_spark.plans.compiler import evaluate
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

    def _push(self, df: DataFrame) -> TripleStore:
        self._updates += 1
        if self._updates % self.checkpoint_every == 0:
            df = df.localCheckpoint(eager=False)
        st = TripleStore(df)
        self.versions.append(st)
        # any push invalidates the closure bookkeeping ("current == closure
        # of _explicit", and _explicit itself) — the *_with_closure paths
        # re-set both after their own push, so interleaved plain verbs
        # (insert_data/delete_insert_where/graph ops) correctly force the
        # next closure call to re-seed and recompute from the live store
        self._closed_valid = False
        self._explicit = None
        self._counts = None
        # the Explicit/Inferred statement partition is only maintained by
        # the closure paths and the plain DATA verbs (which re-set it after
        # this reset); any OTHER verb (modify, graph ops, load) may turn an
        # inferred row explicit without telling us — drop the partition so
        # DROP ENTAILMENTS degrades to a safe no-op instead of deleting
        # asserted data
        self._inferred = None
        return st

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
            saved = (
                self._explicit, self._closed_valid, self._updates,
                self._counts, self._inferred,
            )
            try:
                yield self
            except Exception:
                del self.versions[base:]
                (
                    self._explicit, self._closed_valid, self._updates,
                    self._counts, self._inferred,
                ) = saved
                raise
            else:
                if len(self.versions) > base + 1:
                    final = self.versions[-1]
                    del self.versions[base:]
                    self.versions.append(final)

        return txn()

    # ------------------------------------------------------------- verbs --
    def _upgraded_if_quads(self, triples: DataFrame) -> DataFrame:
        """Current statements, upgraded to quads when the incoming data
        carries a graph column a triples-only store would otherwise drop
        (existing rows land in the default graph, g = NULL)."""
        cur = self.current.df
        if "g" in triples.columns and "g" not in cur.columns:
            cur = cur.withColumn("g", F.lit(None).cast("string"))
        return cur

    def insert_data(self, triples: DataFrame) -> TripleStore:
        """INSERT DATA: union new ground triples (set semantics)."""
        cur = self._upgraded_if_quads(triples)
        new = triples.select(*_key_cols(cur)) if set(triples.columns) >= set(_key_cols(cur)) else triples
        inf = None
        if self._inferred is not None and "g" not in cur.columns:
            # explicitly asserting an inferred triple upgrades it to
            # Explicit (ref: StatementEnum.max on re-assertion) — it then
            # survives DROP ENTAILMENTS
            inf = self._inferred.join(
                new.select(*TRIPLE_COLS), on=TRIPLE_COLS, how="left_anti"
            )
        st = self._push(cur.unionByName(new, allowMissingColumns=True).distinct())
        self._inferred = inf
        return st

    def delete_data(self, triples: DataFrame) -> TripleStore:
        """DELETE DATA: anti-join the ground triple set (broadcast when small).
        Quad stores join null-safely on g so default-graph triples (g=NULL)
        actually delete (ADVICE round 2: NULL never equals NULL in a plain
        equi-join, silently deleting nothing)."""
        cur = self._upgraded_if_quads(triples)
        keys = _key_cols(cur)
        doomed = F.broadcast(triples.select(*keys))
        inf = None
        if self._inferred is not None and "g" not in cur.columns:
            # keep the Inferred partition a subset of the live store
            inf = self._inferred.join(
                triples.select(*TRIPLE_COLS), on=TRIPLE_COLS, how="left_anti"
            )
        if "g" in keys:
            cond = None
            for k in keys:
                c = cur[k].eqNullSafe(doomed[k])
                cond = c if cond is None else cond & c
            st = self._push(cur.join(doomed, on=cond, how="left_anti"))
        else:
            st = self._push(cur.join(doomed, on=keys, how="left_anti"))
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
        DeleteInsertGraph semantics — delete first, then insert).

        On quad stores the templates are graph-aware: an entry's explicit
        GRAPH wins, else ``with_graph`` (the UPDATE's WITH <g>), else the
        default graph (g=NULL) — so DELETE/INSERT WHERE no longer touches
        matching triples in *every* graph (ADVICE r3). The delete is a
        null-safe anti-join on (s,p,o_lex,o_dt,g)."""
        cur = self.current
        is_quads = "g" in cur.df.columns
        # WITH <g> / GRAPH-wrapped templates target a named graph: a
        # triples-only store upgrades to quads first (default graph = NULL)
        needs_g = with_graph is not None or any(
            len(t) > 3 and t[3] is not None
            for t in (delete_template or []) + (insert_template or [])
        )
        if needs_g and not is_quads:
            self._push(cur.df.withColumn("g", F.lit(None).cast("string")))
            cur = self.current
            is_quads = True
        # dt-tracked bindings: object-var datatypes ride along as `<var>__dt`
        # companions, so instantiated triples carry the bound term's true type
        # and the delete anti-join on (s,p,o_lex,o_dt) matches IRIs and typed
        # literals, not just plain strings (ADVICE round 1, high).
        # named_sets attached so `INCLUDE %set` works inside UPDATE WHERE
        # clauses too — the reference's primary solution-set use case
        # (compute once, then modify the graph; review r5-4)
        sets = self.solutions.sets() if self.solutions is not None else {}
        bindings = evaluate(cur.view(track_dt=True, named_sets=sets), where_plan)
        df = cur.df
        if delete_template:
            del_triples = instantiate_template(
                bindings, delete_template, emit_g=is_quads, target_graph=with_graph
            )
            if is_quads:
                doomed = del_triples.select(*QUAD_COLS).alias("doomed")
                left = df.alias("cur")
                cond = None
                for k in QUAD_COLS:
                    c = F.col(f"cur.{k}").eqNullSafe(F.col(f"doomed.{k}"))
                    cond = c if cond is None else cond & c
                df = left.join(doomed, on=cond, how="left_anti")
            else:
                df = df.join(del_triples.select(*TRIPLE_COLS), on=TRIPLE_COLS, how="left_anti")
        if insert_template:
            ins = instantiate_template(
                bindings, insert_template, emit_g=is_quads, target_graph=with_graph
            )
            df = df.unionByName(ins, allowMissingColumns=True).distinct()
        return self._push(df)

    # --------------------------------------------------------- graph ops --
    def _require_quads(self) -> DataFrame:
        """Current statements with a graph column. A triples-only store
        upgrades in place on the first graph operation: existing rows land
        in the default graph (g = NULL) — the reference likewise serves
        quad operations on any store, defaulting statement contexts."""
        cur = self.current.df
        if "g" not in cur.columns:
            cur = cur.withColumn("g", F.lit(None).cast("string"))
            self._push(cur)
        return cur

    def clear_graph(self, g: str) -> TripleStore:
        """CLEAR GRAPH g (DROP is identical for our schema-less graphs).
        Null-preserving: default-graph rows (g=NULL) survive clearing a
        named graph, and CLEAR DEFAULT removes exactly the NULL-g rows."""
        return self._push(self._require_quads().filter(~_g_is(g)))

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
        return self._push(cur.filter(~_g_is(dst)).unionByName(copied).distinct())

    def add_graph(self, src: str, dst: str) -> TripleStore:
        """ADD: dst := dst ∪ src."""
        cur = self._require_quads()
        copied = cur.filter(_g_is(src)).withColumn("g", _g_lit(dst))
        return self._push(cur.unionByName(copied).distinct())

    def move_graph(self, src: str, dst: str) -> TripleStore:
        """MOVE: dst := src; src removed."""
        cur = self._require_quads()
        moved = cur.filter(_g_is(src)).withColumn("g", _g_lit(dst))
        return self._push(cur.filter(~(_g_is(src) | _g_is(dst))).unionByName(moved).distinct())

    # -------------------------------------------------------- load/store --
    def load(self, spark: SparkSession, path: str, fmt: str = "ntriples", graph: str | None = None) -> TripleStore:
        """LOAD <path> [INTO GRAPH g] (ref: LoadGraph / DataLoader.java)."""
        from blazegraph_database_spark.sources import ntriples

        new = ntriples.read_ntriples(spark, path) if fmt == "ntriples" else spark.read.parquet(path)
        if graph is not None:
            new = new.withColumn("g", F.lit(graph))
        return self._push(
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

    # ---------------------------------------------------------- closure --
    def _touches_schema(self, triples: DataFrame) -> bool:
        from blazegraph_database_spark.inference.rdfs import SCHEMA_PREDS

        return bool(triples.filter(F.col("p").isin(*SCHEMA_PREDS)).take(1))

    def insert_with_closure(self, triples: DataFrame) -> TripleStore:
        """Incremental RDFS maintenance on insert (ref: TruthMaintenance.java
        assertAll): data-only deltas forward-chain against the closed store —
        Δ-sized joins with broadcast schema, no corpus scan (delta_assert).
        Schema deltas (or the first call, before a closure exists) recompute
        the closure from the explicit set. Tracks the explicit (asserted)
        set so retraction can compensate exactly."""
        from blazegraph_database_spark.inference.rdfs import delta_assert, rdfs_closure

        delta = triples.select(*TRIPLE_COLS)
        explicit_old = self._explicit if self._explicit is not None else self.current.df
        explicit = (
            explicit_old.unionByName(delta, allowMissingColumns=True)
            .distinct()
            .localCheckpoint(eager=False)
        )
        new_counts = None
        if self._closed_valid and not self._touches_schema(delta):
            if self.tm_strategy == "counting" and self._counts is not None:
                from blazegraph_database_spark.inference.rdfs import counting_assert

                # linearity: only GENUINELY-new rows may increment — a
                # re-insert of an already-explicit triple must not create
                # phantom support that would survive its later retraction
                fresh = delta.join(
                    explicit_old.select(*TRIPLE_COLS), on=TRIPLE_COLS, how="left_anti"
                )
                closed = self.current.df.select(*TRIPLE_COLS).localCheckpoint(eager=True)
                new_counts, closed_df = counting_assert(self._counts, fresh, closed)
            else:
                closed_df = delta_assert(self.current.df.select(*TRIPLE_COLS), delta)
        else:
            closed_df = rdfs_closure(TripleStore(explicit)).df
        st = self._push(closed_df)
        self._explicit = explicit
        self._closed_valid = True
        self._inferred = closed_df.join(
            explicit.select(*TRIPLE_COLS), on=TRIPLE_COLS, how="left_anti"
        ).localCheckpoint(eager=False)
        if new_counts is not None:
            # eager: the counts table is closure-sized and its lineage chains
            # across updates — truncate now or plans grow multiplicatively
            self._counts = new_counts.localCheckpoint(eager=True)
        return st

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
        closed = rdfs_closure(TripleStore(explicit)).df
        st = self._push(closed)
        self._explicit = explicit
        self._closed_valid = True
        self._inferred = closed.join(
            explicit, on=TRIPLE_COLS, how="left_anti"
        ).localCheckpoint(eager=False)
        return st

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
        st = self._push(kept)
        self._explicit = kept
        self._inferred = None
        self._closed_valid = False
        self._counts = None
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
        from blazegraph_database_spark.inference.rdfs import (
            build_support_counts,
            counting_retract,
            dred_retract,
            rdfs_closure,
        )

        delta = triples.select(*TRIPLE_COLS)
        was_closed = self._closed_valid
        explicit_old = self._explicit if self._explicit is not None else self.current.df
        explicit = explicit_old.join(
            F.broadcast(delta), on=TRIPLE_COLS, how="left_anti"
        ).localCheckpoint(eager=False)
        new_counts = None
        if was_closed and not self._touches_schema(delta):
            closed = self.current.df.select(*TRIPLE_COLS)
            if self.tm_strategy == "counting":
                # pin the closure first: the counting pipeline references it
                # from every rule branch, and an unpinned post-update plan
                # re-expands once per reference (driver plan blow-up)
                closed = closed.localCheckpoint(eager=True)
                # counts build lazily from the PRE-delete explicit set (the
                # linearity precondition: delta ⊆ counted explicit rows),
                # then persist across updates so later deletes are
                # decrement-only
                counts = (
                    self._counts
                    if self._counts is not None
                    else build_support_counts(closed, explicit_old.select(*TRIPLE_COLS))
                )
                # linearity: only rows that WERE explicit may decrement — a
                # no-op delete of a never-asserted triple must not steal
                # support from inferences other premises still derive
                eff = delta.join(
                    explicit_old.select(*TRIPLE_COLS), on=TRIPLE_COLS, how="left_semi"
                )
                new_counts, closed_df = counting_retract(counts, explicit, eff, closed)
            else:
                closed_df = dred_retract(closed, explicit, delta)
        else:
            closed_df = rdfs_closure(TripleStore(explicit)).df
        st = self._push(closed_df)
        self._explicit = explicit
        self._closed_valid = True
        self._inferred = closed_df.join(
            explicit.select(*TRIPLE_COLS), on=TRIPLE_COLS, how="left_anti"
        ).localCheckpoint(eager=False)
        if new_counts is not None:
            # eager: the counts table is closure-sized and its lineage chains
            # across updates — truncate now or plans grow multiplicatively
            self._counts = new_counts.localCheckpoint(eager=True)
        return st


def _clear_scope_impl(store: "UpdatableStore", scope: str) -> TripleStore:
    """CLEAR/DROP over GraphRefAll targets (SPARQL 1.1 DEFAULT/NAMED/ALL +
    the reference's GRAPHS/SOLUTIONS extensions — grammar sparql.jjt
    GraphRefAll): DEFAULT empties the default graph, NAMED every named
    graph, GRAPHS all graphs, SOLUTIONS every named solution set, ALL both
    graphs and solution sets."""
    df = store.current.df
    if scope in ("all", "graphs", "solutions"):
        if scope != "graphs" and store.solutions is not None:
            for name in list(store.solutions.names()):
                store.solutions.drop(name, silent=True)
        if scope == "solutions":
            return store.current
        return store._push(df.limit(0))
    if "g" not in df.columns:
        # triples-mode: the whole store IS the default graph
        return store._push(df.limit(0) if scope == "default" else df)
    if scope == "default":
        return store._push(df.filter(F.col("g").isNotNull() & (F.col("g") != "")))
    return store._push(df.filter(F.col("g").isNull() | (F.col("g") == "")))


UpdatableStore.clear_scope = _clear_scope_impl
