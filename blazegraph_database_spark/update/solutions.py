"""Persisted named solution sets (SURVEY.md §2.9 / §2.12 extension).

Reference analog: the solution-set cache — SolutionSetManager
(bigdata-core/bigdata-rdf/src/java/com/bigdata/rdf/sparql/ast/ssets/
SolutionSetManager.java, ISolutionSetManager.java) backed by the cache
connection (ast/cache/CacheConnectionImpl.java). Blazegraph persists named
solution sets ACROSS requests: SPARQL UPDATE writes them
(``INSERT INTO %set SELECT ... WHERE {...}``, ``DELETE FROM %set SELECT ...``,
``CREATE/DROP/CLEAR SOLUTIONS %set`` — grammar:
sparql-grammar/.../sparql.jjt InsertClause/DeleteClause/SolutionsRef) and any
later query joins them via ``INCLUDE %set`` (NamedSubqueryInclude.java).

Spark-first: a solution set is a DataFrame. Durability is a parquet
directory per set version (immutable, like the store's MVCC versions);
without a path the set is pinned via ``localCheckpoint`` — request-scoped
process lifetime, still shared across queries. ``putSolutions`` REPLACES
(ref ISolutionSetManager.putSolutions:94 — "replace not append").

Scale notes: sets are written once and re-read as plain parquet scans, so
an INCLUDE of a persisted set is a pruned columnar scan (no recompute, no
driver round-trip); the write is a normal distributed parquet job.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession


class SolutionSetExistsError(ValueError):
    """CREATE SOLUTIONS of an existing set (ref:
    SparqlDynamicErrorException.SolutionSetExistsException)."""


class SolutionSetDoesNotExistError(KeyError):
    """DROP/CLEAR/DELETE FROM of an absent set (ref:
    SparqlDynamicErrorException.SolutionSetDoesNotExistException)."""


class SolutionSetManager:
    """Named solution sets shared across queries (and, with ``path``,
    across processes/requests — the reference's durable solution-set
    cache)."""

    def __init__(self, spark: SparkSession, path: str | None = None):
        self.spark = spark
        self.path = path
        self._mem: dict[str, DataFrame] = {}
        # loaded-reader memo keyed by version dir: dirs are immutable
        # (every put writes a NEW dir), so a cached DataFrame handle stays
        # valid forever — repeated query_store attachment costs no
        # re-setup (review r5-8)
        self._loaded: dict[str, DataFrame] = {}
        if path:
            os.makedirs(path, exist_ok=True)

    # ----------------------------------------------------------- manifest --
    @property
    def _manifest_file(self) -> str:
        return os.path.join(self.path, "_manifest.json")

    def _manifest(self) -> dict:
        if not self.path or not os.path.exists(self._manifest_file):
            return {}
        with open(self._manifest_file) as f:
            return json.load(f)

    def _write_manifest(self, m: dict) -> None:
        tmp = self._manifest_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f)
        os.replace(tmp, self._manifest_file)

    # ---------------------------------------------------------------- api --
    def names(self) -> list[str]:
        out = set(self._mem)
        out.update(self._manifest())
        return sorted(out)

    def exists(self, name: str) -> bool:
        return name in self._mem or name in self._manifest()

    def put(self, name: str, df: DataFrame) -> None:
        """REPLACE the set's solutions (ref putSolutions semantics).
        Persisted mode writes an immutable parquet version and repoints the
        manifest (readers of the old version are unaffected — MVCC like the
        store's snapshot versions)."""
        if self.path and len(df.columns) > 0:
            vdir = os.path.join(self.path, f"{name}_v{int(time.time() * 1000)}")
            df.write.mode("overwrite").parquet(vdir)
            m = self._manifest()
            m[name] = {"dir": vdir, "cols": df.columns}
            self._write_manifest(m)
            self._mem.pop(name, None)
        else:
            # zero-column sets (CREATE SOLUTIONS before any INSERT) can't be
            # parquet files; hold them (and all sets in memory-mode) pinned
            if self.path:
                m = self._manifest()
                m[name] = {"dir": None, "cols": []}
                self._write_manifest(m)
            self._mem[name] = (
                df if len(df.columns) == 0 else df.localCheckpoint(eager=True)
            )

    def get(self, name: str, _manifest: dict | None = None) -> DataFrame:
        if name in self._mem:
            return self._mem[name]
        entry = (self._manifest() if _manifest is None else _manifest).get(name)
        if entry is None:
            raise SolutionSetDoesNotExistError(name)
        if entry["dir"] is None:  # persisted empty set
            return self.spark.range(0).drop("id")
        if entry["dir"] not in self._loaded:
            self._loaded[entry["dir"]] = self.spark.read.parquet(entry["dir"])
        return self._loaded[entry["dir"]]

    def create(self, name: str, silent: bool = False) -> None:
        if self.exists(name):
            if silent:
                return
            raise SolutionSetExistsError(name)
        self.put(name, self.spark.range(0).drop("id"))

    def drop(self, name: str, silent: bool = False) -> None:
        found = name in self._mem
        self._mem.pop(name, None)
        if self.path:
            m = self._manifest()
            if name in m:
                found = True
                del m[name]
                self._write_manifest(m)
        if not found and not silent:
            raise SolutionSetDoesNotExistError(name)

    def drop_all(self) -> None:
        self._mem.clear()
        if self.path:
            self._write_manifest({})

    def sets(self) -> dict[str, DataFrame]:
        """All sets as name → DataFrame (feed to
        TripleStore.view(named_sets=...) so INCLUDE %name resolves). One
        manifest read total; DataFrame handles are memoized, so attaching
        the sets to every query's store is cheap whether or not the query
        INCLUDEs anything (review r5-8)."""
        m = self._manifest()
        names = sorted(set(self._mem) | set(m))
        return {n: self.get(n, _manifest=m) for n in names}
