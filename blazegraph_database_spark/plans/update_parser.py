"""SPARQL UPDATE text parser + executor (SURVEY.md §2.9/§2.12).

Reference analog: UpdateExprBuilder.java (bigdata-core/bigdata-sails/src/java/
com/bigdata/rdf/sail/sparql/UpdateExprBuilder.java) building the UpdateRoot
AST (bigdata-core/bigdata-rdf/.../sparql/ast/UpdateRoot.java), evaluated by
AST2BOpUpdate.java. Here each textual operation parses into a small op dict
and executes against :class:`update.update.UpdatableStore`, whose verbs
commit each write as a Δ version on a compacted base; this adds the text
surface an endpoint user hits first.

Supported: INSERT DATA / DELETE DATA (with optional GRAPH wrapper),
DELETE/INSERT ... WHERE (either or both templates, optional WITH graph,
USING / USING NAMED dataset clauses), DELETE WHERE shorthand (incl.
GRAPH-wrapped quad patterns), LOAD [SILENT] <uri> [INTO GRAPH <g>],
CLEAR/DROP/CREATE [SILENT] GRAPH <g>, COPY/MOVE/ADD [SILENT] <g> TO <g>,
and `;`-separated sequences.
"""

from __future__ import annotations

import uuid

from pyspark.sql import SparkSession

from blazegraph_database_spark.model.store import TRIPLE_COLS, rows_frame
from blazegraph_database_spark.model.terms import DT_SID, Lit, Var, sid_lex
from blazegraph_database_spark.plans import algebra as A
from blazegraph_database_spark.plans.sparql_parser import Parser
from blazegraph_database_spark.update.update import UpdatableStore


class UpdateParser(Parser):
    """Parses a SPARQL UPDATE request (one or more `;`-separated ops)."""

    def parse_update(self) -> list[dict]:
        self._parse_prefixes()
        ops = []
        while self.peek().kind != "EOF":
            ops.append(self._operation())
            self._parse_prefixes()  # PREFIX may precede any operation
            if self.at_op(";"):
                self.next()
        if self.peek().kind != "EOF":
            raise SyntaxError(f"trailing tokens at {self.peek().text!r}")
        return ops

    # ---------------------------------------------------------------- ops --
    def _operation(self) -> dict:
        if self.at_kw("insert"):
            self.next()
            if self.at_kw("data"):
                self.next()
                return {"op": "insert_data", "quads": self._quad_data()}
            if self.at_kw("into"):  # INSERT INTO %set SELECT ... WHERE {P}
                self.next()
                return self._solutions_modify("insert")
            return self._modify(delete_first=False)
        if self.at_kw("delete"):
            self.next()
            if self.at_kw("data"):
                self.next()
                return {"op": "delete_data", "quads": self._quad_data(mint_bnodes=False)}
            if self.at_kw("from"):  # DELETE FROM %set SELECT ... WHERE {P}
                self.next()
                return self._solutions_modify("delete")
            if self.at_kw("where"):  # DELETE WHERE { P }: pattern is template
                self.next()
                self.eat_op("{")
                tmpl = self._template_block()  # accepts GRAPH <g> wrappers
                plain = [t for t in tmpl if len(t) == 3]
                by_g: dict = {}
                for t in tmpl:
                    if len(t) == 4:
                        by_g.setdefault(t[3], []).append(t[:3])

                def bgp(ts):
                    return A.BGP([A.SP(*t) for t in ts]) if len(ts) > 1 else A.SP(*ts[0])

                parts = ([bgp(plain)] if plain else []) + [
                    A.GraphScope(g, bgp(ts)) for g, ts in by_g.items()
                ]
                where = parts[0]
                for p in parts[1:]:
                    where = A.Join(where, p)
                return {"op": "modify", "delete": tmpl, "insert": None, "where": where}
            return self._modify(delete_first=True)
        if self.at_kw("with"):  # WITH <g> DELETE ... INSERT ... WHERE ...
            self.next()
            g = self._graph_ref()
            if self.at_kw("delete"):
                self.next()
                return self._modify(delete_first=True, graph=g)
            self.eat_kw("insert")
            return self._modify(delete_first=False, graph=g)
        if self.at_kw("load"):
            self.next()
            silent = self.at_kw("silent")
            self._skip_silent()
            uri = self._graph_ref()
            graph = None
            if self.at_kw("into"):
                self.next()
                self.eat_kw("graph")
                graph = self._graph_ref()
            return {"op": "load", "uri": uri, "graph": graph, "silent": silent}
        for verb in ("clear", "drop", "create"):
            if self.at_kw(verb):
                self.next()
                silent = self.at_kw("silent")
                self._skip_silent()
                # bigdata extension: CREATE/DROP/CLEAR SOLUTIONS %name
                # (grammar: sparql.jjt SolutionsRef; DROP and CLEAR have
                # identical semantics for solution sets)
                if self.at_kw("solutions"):
                    self.next()
                    if verb != "create" and not self.peek().text.startswith("%"):
                        # bare SOLUTIONS = every named solution set
                        # (grammar: GraphRefAll <SOLUTIONS> setAllSolutions)
                        return {"op": "clear_scope", "scope": "solutions",
                                "silent": silent}
                    op = "create_solutions" if verb == "create" else "drop_solutions"
                    return {"op": op, "name": self._solutions_name(), "silent": silent}
                # SPARQL 1.1 GraphRefAll targets (+ the bigdata GRAPHS
                # extension: all graphs but not solution sets; ALL clears
                # both — grammar: sparql.jjt GraphRefAll)
                if verb in ("clear", "drop"):
                    for tgt in ("default", "named", "all", "graphs"):
                        if self.at_kw(tgt):
                            self.next()
                            return {"op": "clear_scope", "scope": tgt,
                                    "silent": silent}
                # bigdata extension: CREATE|DROP ENTAILMENTS (grammar:
                # sparql.jjt; ref: ast/CreateEntailments.java /
                # DropEntailments.java — materialize / remove the inferred
                # statements)
                if verb in ("create", "drop") and self.at_kw("entailments"):
                    self.next()
                    return {"op": f"{verb}_entailments"}
                self.eat_kw("graph")
                return {"op": verb, "graph": self._graph_ref()}
        # bigdata extension: DISABLE|ENABLE ENTAILMENTS (ref:
        # ast/DisableEntailments.java / EnableEntailments.java — toggle
        # truth maintenance for the following operations)
        for verb in ("disable", "enable"):
            if self.at_kw(verb):
                self.next()
                self.eat_kw("entailments")
                return {"op": f"{verb}_entailments"}
        for verb in ("copy", "move", "add"):
            if self.at_kw(verb):
                self.next()
                self._skip_silent()
                src = self._graph_ref_or_default()
                self.eat_kw("to")
                dst = self._graph_ref_or_default()
                return {"op": verb, "src": src, "dst": dst}
        raise SyntaxError(f"bad UPDATE operation at {self.peek().text!r}")

    def _template_block(self) -> list[tuple]:
        """Modify template body up to (and consuming) the closing brace:
        plain triples plus `GRAPH <g> { ... }` wrappers → (s, p, o[, g])
        entries (the 4th element feeds delete_insert_where's quad-aware
        templates)."""
        tmpl: list[tuple] = []
        while not self.at_op("}"):
            if self.at_kw("graph"):
                self.next()
                g = self._graph_ref()
                self.eat_op("{")
                tmpl.extend((s, p, o, g) for s, p, o in self._triple_block())
                if self.at_op("."):
                    self.next()
                continue
            s = self.term()
            while True:
                p = self._pred_term()
                while True:
                    o = self.term()
                    tmpl.append((s, p, o))
                    if self.at_op(","):
                        self.next()
                        continue
                    break
                if self.at_op(";"):
                    self.next()
                    if self.at_op(".", "}"):
                        break
                    continue
                break
            if self.at_op("."):
                self.next()
        self.eat_op("}")
        return tmpl

    def _modify(self, delete_first: bool, graph: str | None = None) -> dict:
        """[DELETE { t }] [INSERT { t }] WHERE { P } (one template already
        committed to by the caller via delete_first)."""
        delete = insert = None
        if delete_first:
            self.eat_op("{")
            delete = self._template_block()
            if self.at_kw("insert"):
                self.next()
                self.eat_op("{")
                insert = self._template_block()
        else:
            self.eat_op("{")
            insert = self._template_block()
        # USING <g> / USING NAMED <g> (ref: UpdateExprBuilder dataset
        # clauses): the WHERE clause's dataset — like FROM/FROM NAMED on a
        # query; per spec it OVERRIDES a WITH graph for pattern matching
        # (templates still honor WITH)
        using: list[str] = []
        using_named: list[str] = []
        while self.at_kw("using"):
            self.next()
            if self.at_kw("named"):
                self.next()
                using_named.append(self._graph_ref())
            else:
                using.append(self._graph_ref())
        self.eat_kw("where")
        where = self.group_graph_pattern()
        return {
            "op": "modify", "delete": delete, "insert": insert, "where": where,
            "graph": graph, "using": using, "using_named": using_named,
        }

    def _solutions_name(self) -> str:
        t = self.next()
        if t.kind != "NAMED":
            raise SyntaxError(f"expected %name solution-set ref, got {t.text!r}")
        return t.text[1:]

    def _solutions_modify(self, action: str) -> dict:
        """INSERT INTO %set / DELETE FROM %set + Select() projection +
        shared WHERE (grammar: sparql.jjt InsertClause/DeleteClause —
        `<INSERT> <INTO> t=<VAR3> Select()` / `<DELETE> <FROM> t=<VAR3>
        Select()`)."""
        name = self._solutions_name()
        self.eat_kw("select")
        distinct = False
        if self.at_kw("distinct") or self.at_kw("reduced"):
            distinct = self.at_kw("distinct")
            self.next()
        project = None
        if self.at_op("*"):
            self.next()
        else:
            project = []
            while self.peek().kind == "VAR":
                project.append(self.next().text[1:])
            if not project:
                raise SyntaxError(
                    f"expected ?var list or * after SELECT, got {self.peek().text!r}"
                )
        self.eat_kw("where")
        where = self.group_graph_pattern()
        return {
            "op": "solutions_modify",
            "action": action,
            "name": name,
            "project": project,
            "distinct": distinct,
            "where": where,
        }

    # ------------------------------------------------------------ helpers --
    def _skip_silent(self) -> None:
        if self.at_kw("silent"):
            self.next()

    def _graph_ref(self) -> str:
        t = self.next()
        if t.kind == "IRI":
            return t.text[1:-1]
        if t.kind == "PNAME":
            return self.expand_pname(t.text)
        raise SyntaxError(f"expected graph IRI, got {t.text!r}")

    def _graph_ref_or_default(self) -> str:
        if self.at_kw("default"):
            self.next()
            return "default"
        if self.at_kw("graph"):
            self.next()
        return self._graph_ref()

    def _quad_data(self, mint_bnodes: bool = True) -> list[tuple]:
        """Ground data block: { triples... } with optional GRAPH <g> { ... }
        sub-blocks. Returns (s, p, o, g|None) tuples. ``mint_bnodes`` is
        True for INSERT DATA (each `_:label` mints one fresh bnode per
        request) and False for DELETE DATA, where SPARQL 1.1 Update
        forbids blank nodes outright."""
        self.eat_op("{")
        quads: list[tuple] = []
        while not self.at_op("}"):
            if self.at_kw("graph"):
                self.next()
                g = self._graph_ref()
                self.eat_op("{")
                quads.extend((s, p, o, g) for s, p, o in self._triple_block())
                if self.at_op("."):
                    self.next()
                continue
            # parse a run of plain triples up to GRAPH / closing brace
            s = self.term()
            while True:
                p = self._pred_term()
                while True:
                    o = self.term()
                    quads.append((s, p, o, None))
                    if self.at_op(","):
                        self.next()
                        continue
                    break
                if self.at_op(";"):
                    self.next()
                    if self.at_op(".", "}"):
                        break
                    continue
                break
            if self.at_op("."):
                self.next()
        self.eat_op("}")
        # bnode labels (`_:x`, parsed as __bn_ vars) are legal in INSERT
        # DATA: each label mints one fresh bnode for the request (SPARQL
        # 1.1 Update §3.1.1). Real variables stay rejected.
        fresh: dict[str, str] = {}

        def ground(term):
            if isinstance(term, Var) and term.name.startswith("__bn_"):
                if not mint_bnodes:
                    raise SyntaxError(
                        "blank nodes are not allowed in DELETE DATA (SPARQL 1.1 Update)"
                    )
                if term.name not in fresh:
                    fresh[term.name] = f"_:b{uuid.uuid4().hex[:12]}"
                return fresh[term.name]
            return term

        quads = [(ground(s), ground(p), ground(o), g) for s, p, o, g in quads]
        for s, p, o, _ in quads:
            if isinstance(s, Var) or isinstance(p, Var) or isinstance(o, Var):
                raise SyntaxError("variables are not allowed in DATA blocks")
        return quads


def _ground_rows(quads: list[tuple]) -> list[tuple]:
    """Key rows of a parsed ground data block: (s, p, o_lex, o_dt), and g
    after them for a triple in a named graph."""
    def lex_dt(term) -> tuple[str, str]:
        if isinstance(term, Lit):
            return term.lex, term.dt
        if isinstance(term, A.Emb):  # ground <<s p o>> term → statement id
            sl, _ = lex_dt(term.s)
            pl, _ = lex_dt(term.p)
            ol, odt = lex_dt(term.o)
            return sid_lex(sl, pl, ol, odt), DT_SID
        return str(term), "iri"

    rows = []
    for s, p, o, g in quads:
        sl, _ = lex_dt(s)
        pl, _ = lex_dt(p)
        ol, odt = lex_dt(o)
        rows.append((sl, pl, ol, odt) if g is None else (sl, pl, ol, odt, g))
    return rows


def parse_update(src: str) -> list[dict]:
    return UpdateParser(src).parse_update()


def apply_update(store: UpdatableStore, src: str, spark: SparkSession | None = None) -> UpdatableStore:
    """Parse and execute a SPARQL UPDATE request against an UpdatableStore.
    Operations run in order (each sees the previous one's result), matching
    the reference's sequential UpdateRoot evaluation."""
    spark = spark or store.current.spark
    for op in parse_update(src):
        kind = op["op"]
        if kind in ("insert_data", "delete_data"):
            # a data block naming a graph upgrades a triples-only store to
            # quads (insert_data/delete_data see the g field)
            has_g = store.current.has_graphs or any(
                q[3] is not None for q in op["quads"]
            )
            rows = _ground_rows(op["quads"])
            if getattr(store, "tm_enabled", False) and not has_g:
                # ENABLE ENTAILMENTS routes data ops through truth
                # maintenance (ref: the reference's TM-configured SAIL
                # connection; TM is triples-mode, like the reference's)
                data = rows_frame(spark, rows, TRIPLE_COLS)
                if kind == "insert_data":
                    store.insert_with_closure(data)
                else:
                    store.delete_with_closure(data)
            elif kind == "insert_data":
                store.insert_data(rows)
            else:
                store.delete_data(rows)
        elif kind == "modify":
            where = op["where"]
            g = op.get("graph")
            using = op.get("using") or []
            using_named = op.get("using_named") or []
            if using or using_named:
                # USING overrides WITH for the WHERE dataset (spec: WITH
                # acts as default dataset ONLY absent USING clauses)
                where = A.Dataset(where, default=using, named=using_named)
            elif g is not None:
                where = A.GraphScope(g, where)
            store.delete_insert_where(
                where,
                delete_template=op["delete"],
                insert_template=op["insert"],
                with_graph=g,
            )
        elif kind == "solutions_modify":
            fn = (
                store.insert_into_solutions
                if op["action"] == "insert"
                else store.delete_from_solutions
            )
            fn(op["name"], op["where"], project=op["project"], distinct=op["distinct"])
        elif kind == "create_solutions":
            store.solutions_manager().create(op["name"], silent=op["silent"])
        elif kind == "drop_solutions":
            store.solutions_manager().drop(op["name"], silent=op["silent"])
        elif kind == "load":
            try:
                store.load(spark, op["uri"], graph=op["graph"])
            except Exception:
                # LOAD SILENT: failure to load must not abort the request
                # (spec: the SILENT keyword makes the operation always
                # succeed); non-silent failures propagate
                if not op.get("silent"):
                    raise
        elif kind in ("clear", "drop"):
            store.clear_graph(op["graph"])
        elif kind == "clear_scope":
            store.clear_scope(op["scope"])
        elif kind == "create":
            store.create_graph(op["graph"])
        elif kind == "copy":
            store.copy_graph(op["src"], op["dst"])
        elif kind == "move":
            store.move_graph(op["src"], op["dst"])
        elif kind == "add":
            store.add_graph(op["src"], op["dst"])
        elif kind == "create_entailments":
            store.create_entailments()
        elif kind == "drop_entailments":
            store.drop_entailments()
        elif kind == "disable_entailments":
            store.tm_enabled = False
        elif kind == "enable_entailments":
            store.tm_enabled = True
        else:  # pragma: no cover
            raise ValueError(f"unknown op {kind}")
    return store
