"""GOM — generic object model facade (SURVEY.md §2.12).

Reference analog: bigdata-gom — IObjectManager/ObjectManager
(bigdata-core/bigdata-gom/src/java/com/bigdata/gom/om/IObjectManager.java:49,
ObjectMgrModel.java) and IGPO/GPO generic property objects
(gom/gpo/IGPO.java:66, GPO.java) with ILinkSet link traversal
(gpo/ILinkSet.java). The reference's GOM interns one GPO per resource,
materializes its statements lazily, buffers property mutations on a dirty
list, and flushes them as one update at commit.

Spark-first: a GPO materializes as a bounded per-object statement fetch
(two pruned scans — forward by subject, reverse by object); mutations
buffer driver-side as ground statement tuples and commit as ONE
insert/delete pair against the UpdatableStore (one new MVCC version per
commit, exactly like every other update verb). Object graphs are
interactive working sets — per-object materialization is the reference's
own model, not a scale path; bulk work belongs to the DataFrame/SPARQL
surface.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from blazegraph_database_spark.update.update import UpdatableStore

# value tuple = (lex, dt) matching the store's (o_lex, o_dt) columns


class LinkSet:
    """Links in or out of an owner GPO via one property (ref:
    gpo/ILinkSet.java — a live view; here a materialized snapshot)."""

    def __init__(self, owner: "GPO", prop: str, incoming: bool, members: list["GPO"]):
        self.owner = owner
        self.link_property = prop
        self.incoming = incoming
        self._members = members

    def is_link_set_in(self) -> bool:
        return self.incoming

    def __len__(self) -> int:
        return len(self._members)

    def __iter__(self):
        return iter(self._members)

    def __contains__(self, gpo: "GPO") -> bool:
        return any(m.id == gpo.id for m in self._members)


class GPO:
    """Generic property object (ref: gpo/IGPO.java:66): lazy-materialized
    property map over the store plus buffered mutations."""

    def __init__(self, om: "ObjectManager", rid: str):
        self.om = om
        self.id = rid
        self._props: dict[str, list[tuple[str, str]]] | None = None

    # ------------------------------------------------------ materialize --
    def materialize(self) -> "GPO":
        """Fetch the object's forward statements (ref: IGPO.materialize /
        IObjectManager.materialize) — one subject-pruned scan."""
        if self._props is None:
            df = self.om.store.current.df
            rows = df.filter(F.col("s") == self.id).select("p", "o_lex", "o_dt").collect()
            self._props = {}
            for r in rows:
                self._props.setdefault(r["p"], []).append((r["o_lex"], r["o_dt"]))
        return self

    def _materialized(self) -> dict:
        self.materialize()
        return self._props

    # ----------------------------------------------------------- reads --
    def get_value(self, prop: str) -> tuple[str, str] | None:
        vals = self._materialized().get(prop)
        return vals[0] if vals else None

    def get_values(self, prop: str) -> list[tuple[str, str]]:
        return list(self._materialized().get(prop, []))

    def is_bound(self, prop: str) -> bool:
        return bool(self._materialized().get(prop))

    def get_statements(self) -> list[tuple[str, str, str, str]]:
        return [
            (self.id, p, lex, dt)
            for p, vals in self._materialized().items()
            for lex, dt in vals
        ]

    def get_links_out(self, prop: str | None = None):
        """Outgoing object links (IRI-valued properties) as GPOs; with
        ``prop`` a LinkSet, without it the set of all linked GPOs."""
        props = self._materialized()
        items = props.get(prop, []) if prop else [v for vs in props.values() for v in vs]
        gpos = [self.om.get_gpo(lex) for lex, dt in items if dt in ("iri", "bnode")]
        return LinkSet(self, prop, False, gpos) if prop else gpos

    def get_links_in(self, prop: str | None = None):
        """Incoming links: who references this object (one object-pruned
        reverse scan — the OSP access path the reference uses)."""
        df = self.om.store.current.df
        cond = (F.col("o_lex") == self.id) & F.col("o_dt").isin("iri", "bnode")
        if prop is not None:
            cond = cond & (F.col("p") == prop)
        rows = df.filter(cond).select("s").distinct().collect()
        gpos = [self.om.get_gpo(r["s"]) for r in rows]
        return LinkSet(self, prop, True, gpos) if prop else gpos

    def get_reverse_link_properties(self) -> dict[str, int]:
        """property → incoming-link count (ref: IGPO.getReverseLinkProperties)."""
        df = self.om.store.current.df
        rows = (
            df.filter((F.col("o_lex") == self.id) & F.col("o_dt").isin("iri", "bnode"))
            .groupBy("p")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        return {r["p"]: r["n"] for r in rows}

    # ---------------------------------------------------------- writes --
    def set_value(self, prop: str, lex: str, dt: str = "string") -> None:
        """Replace the property's values with one value (ref: IGPO.setValue)."""
        self.remove_values(prop)
        self.add_value(prop, lex, dt)

    def add_value(self, prop: str, lex: str, dt: str = "string") -> None:
        self._materialized().setdefault(prop, []).append((lex, dt))
        self.om._buffer_add((self.id, prop, lex, dt))
        self.om._dirty.add(self.id)

    def remove_value(self, prop: str, lex: str, dt: str = "string") -> None:
        vals = self._materialized().get(prop, [])
        if (lex, dt) in vals:
            vals.remove((lex, dt))
            self.om._buffer_remove((self.id, prop, lex, dt))
            self.om._dirty.add(self.id)

    def remove_values(self, prop: str) -> None:
        for lex, dt in self._materialized().get(prop, []):
            self.om._buffer_remove((self.id, prop, lex, dt))
        self._props[prop] = []
        self.om._dirty.add(self.id)

    def remove(self) -> None:
        """Remove the object: all forward statements plus incoming links
        (ref: IGPO.remove)."""
        for p in list(self._materialized()):
            self.remove_values(p)
        df = self.om.store.current.df
        rows = (
            df.filter((F.col("o_lex") == self.id) & F.col("o_dt").isin("iri", "bnode"))
            .select("s", "p", "o_lex", "o_dt")
            .collect()
        )
        for r in rows:
            self.om._buffer_remove((r["s"], r["p"], r["o_lex"], r["o_dt"]))
        # pending (not-yet-committed) adds that point AT this object from
        # other GPOs would re-link a removed object at commit — cancel
        # them, and mirror the cancellation into the owning GPO's
        # materialized view (else its _props keeps reporting the link)
        for quad in [
            q for q in self.om._added
            if q[0] == self.id or (q[2] == self.id and q[3] in ("iri", "bnode"))
        ]:
            self.om._added.remove(quad)
            owner = self.om._gpos.get(quad[0])
            if owner is not None and owner._props is not None:
                vals = owner._props.get(quad[1], [])
                if (quad[2], quad[3]) in vals:
                    vals.remove((quad[2], quad[3]))
            self.om._dirty.add(quad[0])
        self.om._dirty.add(self.id)

    def __repr__(self) -> str:  # pragma: no cover - debugging nicety
        return f"GPO<{self.id}>"


class ObjectManager:
    """Object manager over an UpdatableStore (ref: om/ObjectManager.java /
    ObjectMgrModel.java): interns one GPO per resource id, buffers
    mutations, and flushes them as one commit point."""

    def __init__(self, store: UpdatableStore):
        self.store = store
        self._gpos: dict[str, GPO] = {}
        self._added: list[tuple] = []
        self._removed: list[tuple] = []
        self._dirty: set[str] = set()

    # ------------------------------------------------------------ gpos --
    def get_gpo(self, rid: str) -> GPO:
        if rid not in self._gpos:
            self._gpos[rid] = GPO(self, rid)
        return self._gpos[rid]

    # ---------------------------------------------------------- buffers --
    # Mutations net out at buffer time so commit replays only the true
    # delta: removing a value whose add is still pending cancels the add
    # (nothing to delete in the store), and re-adding a value whose
    # removal is pending cancels the removal. Without this, commit's
    # removals-then-additions replay resurrects values that were added
    # and then removed (or overwritten via set_value) before commit.
    def _buffer_add(self, quad: tuple) -> None:
        try:
            self._removed.remove(quad)
        except ValueError:
            self._added.append(quad)

    def _buffer_remove(self, quad: tuple) -> None:
        try:
            self._added.remove(quad)
        except ValueError:
            self._removed.append(quad)

    def init_gpos(self, ids: list[str]) -> dict[str, GPO]:
        """Batch-materialize several objects with ONE pruned scan (ref:
        IObjectManager.initGPOs)."""
        df = self.store.current.df
        rows = (
            df.filter(F.col("s").isin(list(ids)))
            .select("s", "p", "o_lex", "o_dt")
            .collect()
        )
        out: dict[str, GPO] = {}
        for rid in ids:
            g = self.get_gpo(rid)
            g._props = {}
            out[rid] = g
        for r in rows:
            out[r["s"]]._props.setdefault(r["p"], []).append((r["o_lex"], r["o_dt"]))
        return out

    # ---------------------------------------------------------- query --
    def evaluate(self, query: str):
        """SPARQL against the current view (ref: IObjectManager.evaluate)."""
        from blazegraph_database_spark.plans.sparql_parser import run_sparql

        return run_sparql(self.store.query_store, query)

    def execute(self, update: str) -> None:
        """SPARQL UPDATE (ref: IObjectManager.execute). Flushes buffered
        GPO edits first so the update sees them."""
        from blazegraph_database_spark.plans.update_parser import apply_update

        self.commit()
        apply_update(self.store, update)
        self._invalidate()

    # --------------------------------------------------------- commit --
    def commit(self) -> None:
        """Flush buffered GPO mutations as one commit point (ref:
        ObjectMgrModel's dirty-list flush on commit): removals as one
        delete_data, additions as one insert_data, grouped in a store
        transaction so readers see a single new version."""
        if not self._added and not self._removed:
            return
        with self.store.transaction():
            if self._removed:
                self.store.delete_data(self._removed)
            if self._added:
                self.store.insert_data(self._added)
        self._added, self._removed, self._dirty = [], [], set()

    def abort(self) -> None:
        """Discard buffered mutations and invalidate touched objects."""
        self._added, self._removed = [], []
        self._invalidate(only=self._dirty)
        self._dirty = set()

    def _invalidate(self, only: set[str] | None = None) -> None:
        for rid, g in self._gpos.items():
            if only is None or rid in only:
                g._props = None
