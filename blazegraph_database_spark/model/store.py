"""Triple/quad store over a DataFrame, and the written version over one.

Reference analog: com.bigdata.rdf.store.AbstractTripleStore + the SPO/POS/OSP
B+Tree indices (bigdata-core/bigdata-rdf/src/java/com/bigdata/rdf/spo/).
Spark-first: one columnar table ``(s, p, o_lex, o_dt[, g])``. The POS index's
role (fast lookup by predicate) is played by disk partitioning on ``p`` plus
Catalyst partition pruning; per-predicate stats drive BGP join ordering the
way the reference's B+Tree range counts drive its static join optimizer
(reference: bigdata-core/bigdata-rdf/.../sparql/ast/optimizers/ASTStaticJoinOptimizer.java).

Views and memos. A store's DATA is built lazily and kept in one memo dict
that every view of the store shares: the melted union ``df``, the
per-predicate stats, the virtual-index sources and the full-text surfaces.
Per-query compile flags (datatype tracking, id-join vars, dataset scope,
named solution sets, ...) live on the view: ``view(**flags)`` is a shallow
copy that sets flags and shares the memo, so whatever one query builds,
every later query on the same store reuses — the way every reference query
reads the one ``AbstractTripleStore``'s indices. A memo lives as long as its
store: a version kept in ``UpdatableStore.versions`` keeps its memo.

Written versions. A :class:`DeltaStore` is a compacted base store plus two
small, exact row sets held on the driver: ``added`` (disjoint from the base)
and ``removed`` (a subset of it). Reads compose instead of replaying: a
constant predicate's source is the base's own source for it, anti-joined
against that predicate's removed rows and unioned with its added rows; the
union ``df`` composes the same way; the stats are the base's adjusted by the
Δ counts. Every version on one base shares the base's memo, so its virtual
indices and stats are built once — the way a Blazegraph commit point is a
set of indices, not a replayed list of operations.
"""

from __future__ import annotations

import copy
import threading
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from blazegraph_database_spark.operators import driver_tier

TRIPLE_COLS = ["s", "p", "o_lex", "o_dt"]
QUAD_COLS = TRIPLE_COLS + ["g"]


@dataclass
class PredStat:
    count: int
    n_distinct_s: int
    n_distinct_o: int


class TripleStore:
    """An immutable triple set. ``df`` has columns s,p,o_lex,o_dt[,g].

    ``pred_sources`` optionally maps a predicate to a factory producing that
    predicate's triples directly from its base storage — the virtual-index
    fast path. A constant-predicate BGP pattern then compiles to a narrow
    column-pruned scan of the base parquet (predicate pushdown reaches the
    reader) instead of a filter over the melted union — the true POS-index
    analog, and the difference between scanning one column of one table and
    scanning every triple at 100 TB. The melted ``df`` remains the general
    path (variable predicates, CONSTRUCT output, closure results); when a
    ``df_factory`` is given, that union view is built on first access, once
    per store, and shared by every view of it.
    """

    def __init__(
        self,
        df: DataFrame | None = None,
        _stats: dict[str, PredStat] | None = None,
        pred_sources: dict | None = None,
        df_factory=None,
        star_factory=None,
        pred_table: dict | None = None,
        pred_dt: dict | None = None,
    ):
        if df is None and df_factory is None:
            raise ValueError("TripleStore needs df or df_factory")
        self._df_factory = df_factory
        # The data memo, shared by every view (see the module docstring).
        # "stats_exact": whether per-predicate counts are EXACT (safe to
        # answer COUNT(*) / ESTCARD from; ref: fast range counts are exact in
        # the reference's B+Tree). Lazily-computed stats are exact; injected
        # stats default to estimates until the injector marks them.
        self._memo: dict = {"stats_exact": _stats is None}
        if df is not None:
            self._memo["df"] = df
        if _stats is not None:
            self._memo["stats"] = _stats
        # serializes memo builds: concurrent REST requests share the memo,
        # and a build (a union, a checkpointed index) runs Spark jobs.
        # Re-entrant: a full-text build reads the union through memo() too.
        self._memo_lock = threading.RLock()
        self.pred_sources = pred_sources
        # Star-fusion hooks (see plans/compiler._compile_bgp): pred_table maps
        # predicate → base table; star_factory([preds]) returns one scan with
        # columns ("s", <pred>, ...) when all preds live in that one table,
        # read through star_source (memoized like pattern_source).
        self.star_factory = star_factory
        self.pred_table = pred_table
        self.pred_dt = pred_dt  # predicate → o_dt tag (constant per predicate)

        # ---- per-view flags: the only attributes view() may set ----
        # When True, the compiler binds a companion `<var>__dt` column for
        # object-position variables so CONSTRUCT/UPDATE preserve term type
        # (ref keeps IV type through construct; see ADVICE round 1).
        self.track_dt = False
        # Vars the compiler binds as 128-bit term ids (`<var>__id`) instead of
        # lexical strings — set per-query by plans/compiler.evaluate (the
        # TERM2ID join discipline; ref: lexicon/LexiconRelation.java).
        self.id_join_vars: frozenset = frozenset()
        # Vars the compiler binds with their NATIVE column type (long/double)
        # instead of the lexical string — set per-query by
        # plans/compiler.evaluate for vars consumed only through typed casts
        # (the inline-IV analog: the reference stores numerics inline in the
        # IV, never round-tripping through the lexicon; ref:
        # internal/impl/literal/XSDNumericIV.java). Maps var -> dt tag.
        self.native_typed_vars: dict = {}
        # FROM / FROM NAMED scoping (None = no dataset declared)
        self.dataset_default: tuple | None = None
        self.dataset_named: tuple | None = None
        # named solution sets (Blazegraph named subqueries: WITH {...} AS
        # %set ... INCLUDE %set; ref: NamedSubqueryRoot.java /
        # NamedSubqueryInclude.java), name -> DataFrame
        self.named_sets: dict = {}
        # the quad store a graph()-restricted view came from — a nested
        # GRAPH term must resolve against the ORIGINAL dataset, never the
        # already-restricted view (SPARQL active-graph override)
        self.parent_quads: "TripleStore | None" = None
        # the UpdatableStore serving this view (SERVICE <bd:rdrhistory>)
        self.updatable = None
        # SERVICE fts:search transport override, (endpoint, query, params)
        self.fts_transport = None
        # False exposes the raw quad multiset as the default graph
        # (hint:defaultGraphDistinctFilter "false")
        self.default_graph_distinct = True
        # explain_trace's per-BGP optimizer record, when tracing
        self._trace: list | None = None

    def view(self, **flags) -> "TripleStore":
        """Shallow view of this store with the given per-view flags set. The
        view shares this store's data memo."""
        out = copy.copy(self)
        for name, value in flags.items():
            if name not in vars(self) or name in ("_memo", "_memo_lock"):
                raise TypeError(f"unknown store view flag {name!r}")
            setattr(out, name, value)
        return out

    def with_dataset(self, default: tuple = (), named: tuple = ()) -> "TripleStore":
        """View scoped by FROM/USING (default) and FROM NAMED/USING NAMED
        (named). SPARQL dataset semantics: once ANY dataset clause is
        present the dataset is FULLY specified — FROM without FROM NAMED
        means the named-graph set is EMPTY (GRAPH patterns yield zero
        solutions), and FROM NAMED without FROM means the default graph is
        empty. Both sides therefore become concrete (possibly-empty) tuples
        together; None = no dataset clause."""
        if default or named:
            return self.view(dataset_default=tuple(default), dataset_named=tuple(named))
        return self.view(dataset_default=None, dataset_named=None)

    def memo(self, key, build):
        """The shared memo entry ``key``, built by ``build()`` on first use."""
        memo = self._memo
        if key not in memo:
            with self._memo_lock:
                if key not in memo:
                    memo[key] = build()
        return memo[key]

    @property
    def df(self) -> DataFrame:
        return self.memo("df", self._df_factory)

    @df.setter
    def df(self, value: DataFrame) -> None:
        self._memo["df"] = value

    @property
    def _stats(self) -> dict[str, PredStat] | None:
        return self._memo.get("stats")

    @_stats.setter
    def _stats(self, value: dict[str, PredStat] | None) -> None:
        self._memo["stats"] = value

    @property
    def _stats_exact(self) -> bool:
        return self._memo["stats_exact"]

    @_stats_exact.setter
    def _stats_exact(self, value: bool) -> None:
        self._memo["stats_exact"] = value

    def pattern_source(self, pred: str, typed: bool = False) -> DataFrame | None:
        """Virtual-index DataFrame for a constant predicate, if registered.

        ``typed=True`` asks for the object column in its NATIVE parquet type
        (no lexical string cast)."""
        if not self.pred_sources or pred not in self.pred_sources:
            return None
        return self.memo(("source", pred, typed), lambda: self.pred_sources[pred](typed=typed))

    def star_source(self, preds: list[str], native: frozenset = frozenset()) -> DataFrame | None:
        """Fused star scan of ``preds``, one column each next to ``s``, or
        None when ``star_factory`` cannot serve them from one table; built
        once per store in the memo. ``native`` names the predicates served
        in their native column type."""
        if not self.star_factory:
            return None
        key = ("star", tuple(preds), native)
        return self.memo(key, lambda: self.star_factory(preds, native=native))

    @property
    def spark(self) -> SparkSession:
        if "df" in self._memo:
            return self._memo["df"].sparkSession
        # Don't force the lazy union view just to get a session handle.
        active = SparkSession.getActiveSession()
        return active if active is not None else self.df.sparkSession

    @property
    def has_graphs(self) -> bool:
        return "g" in self.df.columns

    def stats(self) -> dict[str, PredStat]:
        """Per-predicate (count, distinct-s, distinct-o) for join ordering.

        Computed once per store and cached; the predicate set is small (one
        per schema attribute) so the collected dict is tiny. At 100 TB these
        stats would be persisted next to the parquet at load time — see
        sources/parquet_store.py which does exactly that.
        """
        def build() -> dict[str, PredStat]:
            rows = (
                self.df.groupBy("p")
                .agg(
                    F.count(F.lit(1)).alias("c"),
                    F.approx_count_distinct("s").alias("ds"),
                    F.approx_count_distinct("o_lex").alias("do"),
                )
                .collect()
            )
            return {r["p"]: PredStat(r["c"], max(r["ds"], 1), max(r["do"], 1)) for r in rows}

        return self.memo("stats", build)

    def stats_are_exact(self) -> bool:
        """True when per-predicate counts can answer COUNT(*)/ESTCARD
        exactly: either stats will be computed by the exact groupBy path on
        first use, or the injector (parquet-store persisted stats, complete
        parquet-footer null counts) marked them exact."""
        return self._stats is None or self._stats_exact

    def may_hold(self, pred: str) -> bool:
        """False when the stats rule ``pred`` out: absent or counted 0 (the
        counts are exact or upper bounds, never under)."""
        stats = self._stats
        return stats is None or (pred in stats and stats[pred].count > 0)

    def total(self) -> int:
        return sum(s.count for s in self.stats().values())

    def cache(self) -> "TripleStore":
        # localCheckpoint, not persist(): both pin the triples in memory
        # (MEMORY_AND_DISK, spills fine), but the checkpoint also TRUNCATES
        # the logical plan to a materialized leaf. With persist() the
        # analyzer/optimizer re-walks the full source parse subtree for
        # EVERY pattern of every query — a 13-pattern BSBM query re-analyzes
        # the ntriples regex-parse plan 13 times; the warm explore mix reads
        # 6.5-8.4 s persisted vs 5.0 s checkpointed, compile and execute
        # both dropping (r12; guide §3.3 "materialise to truncate plans").
        # Materialization is eager — cache() is a load-time/setup call.
        self.df = self.df.localCheckpoint(eager=True)
        return self

    def union(self, other: "TripleStore") -> "TripleStore":
        return TripleStore(self.df.unionByName(other.df, allowMissingColumns=True))

    def graph(self, g: str) -> "TripleStore":
        """Named-graph scoping (reference: DatasetNode / GRAPH keyword): a
        triples store of graph ``g``, built once per store in the memo (so
        its stats are too) and returned as a per-query view."""
        if not self.has_graphs:
            raise ValueError("store has no graph column")
        scoped = self.memo(
            ("graph", g), lambda: TripleStore(self.df.filter(F.col("g") == g).drop("g"))
        )
        # id-join classification must survive graph scoping: a var bound as
        # an id inside GRAPH and as a string outside would never join
        return scoped.view(
            track_dt=self.track_dt,
            id_join_vars=self.id_join_vars,
            native_typed_vars=self.native_typed_vars,
            parent_quads=self,
        )

    def scope(self, graphs: tuple) -> "TripleStore":
        """The quads of the dataset graphs ``graphs`` (FROM / FROM NAMED; an
        empty tuple matches nothing), built once per store in the memo and
        returned as a per-query view."""
        cond = F.col("g").isin(list(graphs)) if graphs else F.lit(False)
        scoped = self.memo(("scope", graphs), lambda: TripleStore(self.df.filter(cond)))
        return scoped.view(track_dt=self.track_dt)


def key_join(
    df: DataFrame, rows: DataFrame | Column, how: str, cols: list[str], broadcast: bool = True
) -> DataFrame:
    """``df`` semi- or anti-joined (``how``) to the rows of ``rows`` on the
    key columns ``cols``, null-safely (the default graph is g = NULL). The
    right side is renamed first, so frames that share lineage still compare
    column by column. ``rows`` may be a :func:`key_rows` predicate instead
    of a frame: ``df`` is then filtered by it, with no join."""
    if isinstance(rows, Column):
        return df.filter(rows if how == "left_semi" else ~rows)
    right = rows.select([F.col(c).alias(f"__k_{c}") for c in cols])
    if broadcast:
        right = F.broadcast(right)
    cond = None
    for c in cols:
        eq = df[c].eqNullSafe(right[f"__k_{c}"])
        cond = eq if cond is None else cond & eq
    return df.join(right, on=cond, how=how)


def rows_frame(spark: SparkSession, rows, cols: list[str], o_type: str = "string") -> DataFrame:
    """Driver-held key rows as a local relation; ``o_type`` casts ``o_lex``
    to a typed source's native column type."""
    df = driver_tier.to_frame(spark, list(rows), ", ".join(f"{c} string" for c in cols))
    return df if o_type == "string" else df.withColumn("o_lex", F.col("o_lex").cast(o_type))


def _sql_lit(v, cast: str = "string") -> str:
    """``v`` as a Spark SQL literal of type ``cast`` (quotes and
    backslashes escaped; None is a typed NULL)."""
    if v is None:
        return f"CAST(NULL AS {cast})"
    text = "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return text if cast == "string" else f"CAST({text} AS {cast})"


def key_rows(spark: SparkSession, rows, cols: list[str], o_type: str = "string") -> DataFrame | Column:
    """Driver-held key rows (``s`` never null) as the right side of
    :func:`key_join`. Up to ``driver_tier.LITERAL_MAX_ROWS`` rows (read at
    call time) become one literal predicate, ``s IN (...) AND struct(cols)
    IN (...)``, built as one SQL expression (one py4j call, where a Column
    per value costs one each): struct equality matches null fields, so it
    is null-safe, and the plan runs in one job with no broadcast. The
    ``s`` hash-set test keeps the per-row cost flat in the row count. More
    rows become a :func:`rows_frame`, which ``key_join`` broadcasts."""
    if len(rows) > driver_tier.LITERAL_MAX_ROWS:
        return rows_frame(spark, rows, cols, o_type)
    if not rows:
        return F.lit(False)
    casts = [o_type if c == "o_lex" else "string" for c in cols]
    subjects = ", ".join(map(_sql_lit, sorted({r[0] for r in rows})))
    structs = ", ".join(
        "named_struct(" + ", ".join(f"'{c}', {_sql_lit(v, t)}" for c, v, t in zip(cols, r, casts)) + ")"
        for r in rows
    )
    keys = ", ".join(f"`{c}`" for c in cols)
    return F.expr(f"`s` IN ({subjects}) AND struct({keys}) IN ({structs})")


class DeltaStore(TripleStore):
    """A written version: ``base`` with ``removed`` taken out and ``added``
    put in (see the module docstring).

    ``base`` is a compacted store, never another DeltaStore. ``added`` and
    ``removed`` map a predicate to a frozenset of key rows (tuples in
    ``TRIPLE_COLS`` / ``QUAD_COLS`` order) with ``added ∩ base = ∅`` and
    ``removed ⊆ base``; they keep the stats exact and mean no read needs a
    ``distinct()``. Versions share the frozensets of predicates one write
    did not touch."""

    def __init__(self, base: TripleStore, added: dict, removed: dict):
        self.base = base
        self.added = added
        self.removed = removed
        self.touched = frozenset(added) | frozenset(removed)
        pred_dt = base.pred_dt
        if pred_dt:
            # a Δ row tagged differently makes the predicate's tag no longer
            # constant: drop it, so no typed source is asked for
            pred_dt = {
                p: t for p, t in pred_dt.items() if all(r[3] == t for r in added.get(p, ()))
            }
        super().__init__(
            df_factory=self._compose_df,
            star_factory=base.star_factory,
            pred_table=base.pred_table,
            pred_dt=pred_dt,
        )
        self._stats_exact = base.stats_are_exact()
        if base._stats is not None:
            self._stats = self._compose_stats(base._stats)

    @property
    def spark(self) -> SparkSession:
        return self.base.spark

    @property
    def has_graphs(self) -> bool:
        return self.base.has_graphs

    def key_cols(self) -> list[str]:
        return QUAD_COLS if self.has_graphs else TRIPLE_COLS

    def _frame(self, key, rows, o_type: str = "string") -> DataFrame:
        return self.memo(key, lambda: rows_frame(self.spark, rows, self.key_cols(), o_type))

    def _without(self, df: DataFrame, key, rows, o_type: str = "string") -> DataFrame:
        """``df`` minus the driver-held ``rows``; their :func:`key_rows`
        side is built once per version in the memo under ``key``."""
        cols = self.key_cols()
        side = self.memo(key, lambda: key_rows(self.spark, rows, cols, o_type))
        return key_join(df, side, "left_anti", cols)

    def _compose_df(self) -> DataFrame:
        df = self.base.df
        removed = frozenset().union(*self.removed.values())
        if removed:
            df = self._without(df, "removed", removed)
        added = frozenset().union(*self.added.values())
        if added:
            df = df.unionByName(self._frame("added", added), allowMissingColumns=True)
        return df

    def pattern_source(self, pred: str, typed: bool = False) -> DataFrame | None:
        """The base's source for ``pred`` minus its removed rows plus its
        added rows. A predicate absent from the base's stats is served by
        its added rows alone, with no base scan."""
        if pred not in self.touched:
            return self.base.pattern_source(pred, typed=typed)
        return self.memo(("source", pred, typed), lambda: self._compose_source(pred, typed))

    def _compose_source(self, pred: str, typed: bool) -> DataFrame:
        src = self.base.pattern_source(pred, typed=typed)
        o_type = dict(src.dtypes)["o_lex"] if src is not None else "string"
        rem = self.removed.get(pred)
        out = None
        if rem or self.base.may_hold(pred):
            out = src if src is not None else self.base.df.filter(F.col("p") == pred)
            if rem:
                out = self._without(out, ("removed", pred, o_type), rem, o_type)
        add = self.added.get(pred)
        if add:
            new = self._frame(("added", pred, o_type), add, o_type)
            out = new if out is None else out.unionByName(new, allowMissingColumns=True)
        return out

    def _compose_stats(self, base_stats: dict[str, PredStat]) -> dict[str, PredStat]:
        out = dict(base_stats)
        for p in self.touched:
            add = self.added.get(p, ())
            st = out.get(p)
            if st is None:
                out[p] = PredStat(
                    len(add), max(len({r[0] for r in add}), 1), max(len({r[2] for r in add}), 1)
                )
            else:
                n = st.count + len(add) - len(self.removed.get(p, ()))
                out[p] = PredStat(n, st.n_distinct_s, st.n_distinct_o)
        return out

    def stats(self) -> dict[str, PredStat]:
        return self.memo("stats", lambda: self._compose_stats(self.base.stats()))

    def star_source(self, preds: list[str], native: frozenset = frozenset()) -> DataFrame | None:
        # a star over a Δ-touched predicate takes the per-pattern path,
        # whose sources compose the Δ
        if self.touched.intersection(preds):
            return None
        return self.base.star_source(preds, native)
