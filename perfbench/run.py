"""SPARQL-endpoint benchmark for blazegraph_database_spark.

Drives the engine the way an endpoint user does: one client in a closed
loop calls ``server.rest.SparqlEndpoint.query`` / ``.update`` in-process
with generated SPARQL text, against a store built by
``sources.relational.cached_store``. Every answer is checked.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). The line before it is
the run record. See perfbench/README.md for workloads and metrics.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE = "blazegraph_database_spark"

sys.path[:0] = [HERE, ROOT]

import ops as O  # noqa: E402
import stats as S  # noqa: E402

# nominal length of one round on a calm 4-vCPU host (see rounds_per_run)
ROUND_S = {"lookup": 6.0, "update_mix": 25.0}
# untimed ops before the window (update_mix warms a separate store); lookup
# latencies keep falling for about ten ops after start-up
WARMUP_OPS = {"lookup": 10, "update_mix": 3}
NS = "kb"

# the end-to-end metrics BENCHMARK.json gates; the run record holds all of them
E2E_REPORTED = ("setup_s", "read_p50_ms", "ops_per_s")


def _unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_pct"):
        return "%"
    return "count"


LAYER_NAMES = (
    "rest.query_ms", "rest.update_ms", "rest.self_ms", "sparql_parser.parse_ms",
    "compiler.build_ms", "compiler.self_ms", "relational.store_build_ms",
    "relational.load_tables_calls", "relational.load_tables_ms", "catalyst.pre_job_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_wall_ms", "spark.between_jobs_ms",
    "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.input_bytes",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "update_parser.parse_ms", "update_parser.apply_ms", "update.versions", "update.plan_nodes",
    "gas.call_ms", "gas.jobs", "gas.edges", "jvm.gc_ms", "jvm.gc_count", "jvm.cpu_ms",
    "jvm.rss_mb", "driver.py_cpu_ms", "trace.overhead_pct", "trace.remainder_ms",
)
LAYER_UNITS = {n: _unit(n) for n in LAYER_NAMES}


def rounds_per_run(workload: str, seconds: float) -> int:
    """Whole rounds a run measures: as many as fill ``seconds`` on a calm
    host, at least one. The count is fixed, so the work in a run does not
    depend on how fast the host happens to be."""
    return max(1, round(seconds / ROUND_S[workload]))


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(O.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def source_hash() -> str:
    """Content hash of the engine package: identifies the code under test
    when the checkout is not a git repository."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, ENGINE)
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(dirpath, f), ROOT).encode())
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10, check=True)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def plan_fingerprint(plan_text: str) -> str:
    """Hash of the optimized logical plan with expression ids and plan ids
    stripped, so only a change of plan shape changes it."""
    m = re.search(r"== Optimized Logical Plan ==\n(.*?)\n== Physical Plan ==", plan_text, re.S)
    body = m.group(1) if m else plan_text
    body = re.sub(r"#\d+L?", "#", body)
    body = re.sub(r"plan_id=\d+", "plan_id=", body)
    return hashlib.sha1(body.encode()).hexdigest()[:12]


def plan_nodes(us) -> int:
    """Logical-plan node count of the store's current version."""
    tree = us.current.df._jdf.queryExecution().logical().treeString()
    return sum(1 for line in tree.splitlines() if line.strip())


class Runner:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.trace = bool(args.trace)
        self.outcomes = S.Outcomes()
        self.records: list[dict] = []
        self.setup: dict = {}

    # ---------------------------------------------------------- set-up --
    def start(self) -> None:
        import pyarrow.parquet as pq
        from datagen import materialize

        sf = O.WORKLOADS[self.workload]
        t = time.perf_counter()
        self.data_dir = materialize(sf, os.path.join(WORK, f"sf{sf}"))
        self.datagen_s = time.perf_counter() - t
        # keep every file Spark and the JVMs (spark-submit's launcher and the
        # driver) write inside the checkout; the per-process temp dir is
        # removed once the JVM has exited
        self.tmp = os.path.join(WORK, "tmp", str(os.getpid()))
        os.makedirs(self.tmp, exist_ok=True)
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
        os.environ["TMPDIR"] = self.tmp
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
            os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={self.tmp}", "-XX:-UsePerfData",
        )))

        from blazegraph_database_spark.server.rest import SparqlEndpoint
        from blazegraph_database_spark.session import get_spark
        from blazegraph_database_spark.sources import relational
        from blazegraph_database_spark.update.update import UpdatableStore

        import tracing as T

        self.T = T
        self.tracer = T.Tracer()
        if self.trace:
            self.tracer.install()
        self.host_start = T.host_snapshot()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.jvm = T.JvmProbe(self.spark)
        # the served store comes from cached_store, as the registry builds it
        t = time.perf_counter()
        store = relational.cached_store(self.spark, self.data_dir)
        store_build_s = time.perf_counter() - t
        self.base = store
        self.us = UpdatableStore.from_store(store)
        self.ep = SparqlEndpoint(self.spark, self.us)
        self.sizes = {
            t: pq.ParquetFile(f"{self.data_dir}/{t}.parquet").metadata.num_rows
            for t in ("customer", "orders")
        }
        self.rounds = self.make_rounds(self.args.seed)
        t2 = time.perf_counter()
        self.warmup()
        t3 = time.perf_counter()
        self.setup = {
            "session_s": t1 - t0,
            "store_build_s": store_build_s,
            "warmup_s": t3 - t2,
            "wall_s": t3 - T_PROCESS,
            "datagen_s": self.datagen_s,
        }
        # process start to first timed op; data generation is a one-time
        # build of the checkout
        self.setup_s = (t3 - T_PROCESS) - self.datagen_s

    def make_rounds(self, seed: int):
        if self.workload == "update_mix":
            return O.update_cycles(seed, self.base_segments())
        return O.lookup_rounds(seed, self.sizes)

    def base_segments(self) -> dict[int, str]:
        return dict(self.duck().execute("SELECT c_custkey, c_mktsegment FROM customer").fetchall())

    def warmup(self) -> None:
        """Untimed ops from another seed. update_mix warms a separate store
        so the timed sequence starts at version 0."""
        from blazegraph_database_spark.server.rest import SparqlEndpoint
        from blazegraph_database_spark.update.update import UpdatableStore

        ep = self.ep
        if self.workload == "update_mix":
            ep = SparqlEndpoint(self.spark, UpdatableStore.from_store(self.base))
        warm = self.make_rounds(self.args.seed + 1_000_003)
        todo = WARMUP_OPS[self.workload]
        while todo > 0:
            for op in next(warm)[:todo]:
                self.call(ep, op, f"warm{todo}")
                todo -= 1

    def duck(self):
        if not hasattr(self, "_duck"):
            import duckdb

            con = duckdb.connect()
            con.execute("SET threads TO 2")
            for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')")
            self._duck = con
        return self._duck

    # ------------------------------------------------------------- ops --
    def call(self, ep, op, qid: str):
        if op.kind == "read":
            return ep.query(NS, op.text, query_id=qid)
        self.spark.sparkContext.setJobGroup(f"bench-{qid}", "perfbench update")
        return ep.update(NS, op.text)

    def run_op(self, op, idx: int) -> dict:
        qid = f"op{idx}"
        rec = {"i": idx, "shape": op.shape, "kind": op.kind}
        traced = self.trace
        p0 = time.perf_counter()
        before = self.jvm.snapshot() if traced else None
        cost0 = self.tracer.cost_s
        self.tracer.op, self.tracer.enabled = qid, traced
        t0 = time.perf_counter()
        try:
            status, _ctype, body = self.call(self.ep, op, qid)
            rec["error"] = None if status == 200 else f"http_{status}"
        except Exception as ex:  # an op that raises is a failed op, not a crash
            body, rec["error"] = b"", type(ex).__name__
        t1 = time.perf_counter()
        self.tracer.enabled = False
        rec["ms"] = (t1 - t0) * 1000.0
        rec["epoch_end"] = time.time()
        rec["epoch_start"] = rec["epoch_end"] - (t1 - t0)
        rec["body"] = body
        if traced:
            rec["layers"] = self.layers(op, qid, rec, before, t0, t1)
            if self.workload == "update_mix" and op.kind == "read":
                rec["plan_nodes"] = plan_nodes(self.us)
                rec["versions"] = len(self.us.versions)
            inside = self.tracer.cost_s - cost0
            # tracing cost of this op: the wrappers' bookkeeping inside the
            # op, plus the probes around it, which pace the loop
            rec["trace_cost_ms"] = 1000.0 * (inside + (t0 - p0) + (time.perf_counter() - t1))
            rec["bare_ms"] = rec["ms"] - 1000.0 * inside
        return rec

    def layers(self, op, qid: str, rec: dict, before: dict, t0: float, t1: float) -> dict:
        """Per-layer numbers of one traced op (all times in ms)."""
        T = self.T
        after = self.jvm.snapshot()
        spans = self.tracer.op_spans(qid)
        group = f"rest-query-{qid}" if op.kind == "read" else f"bench-{qid}"
        sc = T.spark_counters(self.spark, group)
        # perf_counter -> epoch, for comparing with Spark's job timestamps
        off = rec["epoch_start"] - t0

        def dur(s):
            return (s["end"] - s["start"]) * 1000.0

        def outer(prefix):
            ids = {s["id"] for s in spans if s["name"].startswith(prefix)}
            return [s for s in spans if s["name"].startswith(prefix) and s["parent"] not in ids]

        def self_ms(prefix):
            # a layer's own time: its outermost spans minus every span of
            # another layer nested inside them (one thread, so nesting in
            # time is nesting in calls)
            total = 0.0
            for t in outer(prefix):
                kids = [(c["start"], c["end"]) for c in spans
                        if not c["name"].startswith(prefix)
                        and c["start"] >= t["start"] and c["end"] <= t["end"]]
                total += S.self_time((t["start"], t["end"]), kids)
            return total * 1000.0

        rest = outer("rest.")
        comp = outer("compiler.")
        gas = outer("gas.")
        loads = [s for s in spans if s["name"] == "relational.load_tables"]
        jobs = sorted(sc["job_spans"])
        comp_end = max((s["end"] for s in comp), default=None)
        pre_job = 0.0
        if comp_end is not None:
            later = [a for a, _ in jobs if a >= (comp_end + off) * 1000.0 - 1.0]
            if later:
                pre_job = max(later[0] - (comp_end + off) * 1000.0, 0.0)
        wall = (jobs[-1][1] - jobs[0][0]) if jobs else 0.0
        gas_iv = [((s["start"] + off) * 1000.0, (s["end"] + off) * 1000.0) for s in gas]
        # what no layer below the endpoint and no Spark job accounts for:
        # result serialisation, py4j calls outside the traced entry points,
        # the endpoint's own python
        covered = [(s["start"], s["end"]) for s in spans if not s["name"].startswith("rest.")]
        covered += [(a / 1000.0 - off, b / 1000.0 - off) for a, b in jobs]
        return {
            "rest.query_ms": sum(dur(s) for s in rest if s["name"] == "rest.query"),
            "rest.update_ms": sum(dur(s) for s in rest if s["name"] == "rest.update"),
            "rest.self_ms": self_ms("rest."),
            "sparql_parser.parse_ms": sum(dur(s) for s in outer("sparql_parser.")),
            "compiler.build_ms": sum(dur(s) for s in comp),
            "compiler.self_ms": self_ms("compiler."),
            "relational.load_tables_calls": len(loads),
            "relational.load_tables_ms": sum(dur(s) for s in loads),
            "catalyst.pre_job_ms": pre_job,
            "spark.jobs": sc["jobs"],
            "spark.stages": sc["stages"],
            "spark.tasks": sc["tasks"],
            "spark.job_wall_ms": sum(b - a for a, b in jobs),
            "spark.between_jobs_ms": wall - S.union_length(jobs),
            "spark.executor_run_ms": sc["executor_run_ms"],
            "spark.executor_cpu_ms": sc["executor_cpu_ms"],
            "spark.input_bytes": sc["input_bytes"],
            "spark.shuffle_read_bytes": sc["shuffle_read_bytes"],
            "spark.shuffle_write_bytes": sc["shuffle_write_bytes"],
            "spark.spill_bytes": sc["memory_spill_bytes"] + sc["disk_spill_bytes"],
            "update_parser.parse_ms": sum(dur(s) for s in outer("update_parser.parse")),
            "update_parser.apply_ms": sum(dur(s) for s in outer("update_parser.apply")),
            "gas.call_ms": sum(dur(s) for s in gas),
            "gas.jobs": sum(1 for a, b in jobs if any(lo <= a <= hi for lo, hi in gas_iv)),
            "gas.edges": op.meta.get("edges", 0) if gas else 0,
            "jvm.gc_ms": after["gc_ms"] - before["gc_ms"],
            "jvm.gc_count": after["gc_count"] - before["gc_count"],
            "jvm.cpu_ms": after["cpu_ms"] - before["cpu_ms"],
            "jvm.rss_mb": self.jvm.rss_mb(),
            "driver.py_cpu_ms": after["py_cpu_ms"] - before["py_cpu_ms"],
            "trace.remainder_ms": S.self_time((t0, t1), covered) * 1000.0,
        }

    # ---------------------------------------------------------- window --
    def measure(self) -> None:
        self.n_rounds = rounds_per_run(self.workload, self.args.seconds)
        t0 = time.perf_counter()
        for _ in range(self.n_rounds):
            for op in next(self.rounds):
                rec = self.run_op(op, len(self.records))
                rec["op"] = op
                self.records.append(rec)
        self.window_s = time.perf_counter() - t0
        self.host_end = self.T.host_snapshot()

    # ---------------------------------------------------------- checks --
    def check(self) -> None:
        by_sql: dict[str, list[tuple]] = {}
        for rec in self.records:
            op = rec["op"]
            rec["ok"] = False
            if rec["error"] is None and op.kind == "read":
                exp = op.expect
                if exp.rows is not None:
                    want = exp.rows
                else:
                    if exp.sql not in by_sql:
                        by_sql[exp.sql] = self.duck().execute(exp.sql).fetchall()
                    want = by_sql[exp.sql]
                try:
                    got = O.result_rows(rec["body"])
                except (ValueError, KeyError):
                    got = None
                rec["ok"] = got is not None and O.same_answer(got, want)
                if not rec["ok"]:
                    rec["error"] = "wrong_answer"
            elif rec["error"] is None:
                rec["ok"] = True
            if rec["ok"]:
                self.outcomes.ok()
            else:
                self.outcomes.fail(rec["error"])

    # --------------------------------------------------------- results --
    def fingerprints(self) -> dict[str, str]:
        out = {}
        for rec in self.records:
            op = rec["op"]
            if op.kind != "read" or op.shape in out:
                continue
            try:
                _s, _c, plan = self.ep.query(NS, op.text, explain="plan")
                out[op.shape] = plan_fingerprint(plan.decode())
            except Exception as ex:  # a plan that cannot be shown is recorded, not fatal
                out[op.shape] = f"error:{type(ex).__name__}"
        return out

    def end_to_end(self) -> dict:
        reads = [r["ms"] for r in self.records if r["kind"] == "read"]
        writes = [r["ms"] for r in self.records if r["kind"] == "write"]
        completed = sum(1 for r in self.records if r["error"] in (None, "wrong_answer"))
        e2e = {
            "setup_s": (self.setup_s, "s"),
            "read_p50_ms": (S.median(reads), "ms"),
            "read_tail_ms": (S.tail(reads)["value"], "ms"),
            "ops_per_s": (completed / self.window_s, "1/s"),
            "peak_rss_mb": (self.jvm.peak_rss_mb(), "MB"),
            "fail_ratio": (self.outcomes.fail_ratio, "1"),
        }
        if writes:
            e2e["write_p50_ms"] = (S.median(writes), "ms")
            e2e["write_tail_ms"] = (S.tail(writes)["value"], "ms")
        self.tails = {"read": S.tail(reads), "write": S.tail(writes) if writes else None}
        return e2e

    def per_layer(self) -> dict:
        """Per-layer numbers of a traced run, where every op is traced."""
        ops = self.records
        reads = [r for r in ops if r["kind"] == "read"]
        writes = [r for r in ops if r["kind"] == "write"]
        gas = [r for r in ops if r["layers"]["gas.call_ms"]]
        # each layer's numbers are per op that enters the layer
        pools = {
            "rest.query": reads, "sparql_parser.": reads, "compiler.": reads, "catalyst.": reads,
            "rest.update": writes, "update_parser.": writes, "gas.": gas,
        }
        out = dict.fromkeys(LAYER_NAMES, 0.0)
        for k in ops[0]["layers"]:
            pool = next((p for pre, p in pools.items() if k.startswith(pre)), ops)
            out[k] = sum(r["layers"][k] for r in pool) / len(pool) if pool else 0.0
        reads_nodes = [r["plan_nodes"] for r in ops if "plan_nodes" in r]
        versions = [r["versions"] for r in ops if "versions" in r]
        out["update.plan_nodes"] = sum(reads_nodes) / len(reads_nodes) if reads_nodes else 0.0
        out["update.versions"] = sum(versions) / len(versions) if versions else 0.0
        out["relational.store_build_ms"] = self.setup["store_build_s"] * 1000.0
        # wall time tracing added, over the wall time the ops took without it
        out["trace.overhead_pct"] = 100.0 * (
            sum(r["trace_cost_ms"] for r in ops) / sum(r["bare_ms"] for r in ops))
        return out

    def shapes(self) -> dict:
        per: dict[str, dict] = {}
        for r in self.records:
            d = per.setdefault(r["shape"], {"n": 0, "ms": [], "fail": 0, "counts": []})
            d["n"] += 1
            d["ms"].append(r["ms"])
            d["fail"] += 0 if r["ok"] else 1
            if r.get("layers"):
                L = r["layers"]
                d["counts"].append((L["spark.jobs"], L["spark.stages"], L["relational.load_tables_calls"]))
        out = {}
        for shape, d in per.items():
            out[shape] = {
                "n": d["n"],
                "p50_ms": round(S.median(d["ms"]), 3),
                "failed": d["fail"],
            }
            if d["counts"]:
                out[shape]["jobs_stages_loads"] = sorted(set(d["counts"]))
        return out

    def stop(self) -> None:
        """Stop Spark and wait for the JVM it launched to exit."""
        from pyspark import SparkContext

        spark = getattr(self, "spark", None)
        if spark is None:
            shutil.rmtree(getattr(self, "tmp", ""), ignore_errors=True)
            return
        gw = SparkContext._gateway
        spark.stop()
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # the gateway may already be gone; the process wait below still runs
            pass
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        shutil.rmtree(self.tmp, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import blazegraph_database_spark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: cannot import the engine package {ENGINE!r}: {ex}", file=sys.stderr)
        return 2
    runner = Runner(args)
    try:
        runner.start()
        runner.measure()
        runner.check()
        e2e = runner.end_to_end()
        layers = runner.per_layer() if runner.trace else None
        fps = runner.fingerprints() if runner.trace else None
    finally:
        runner.stop()
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale_factor": O.WORKLOADS[args.workload],
        "env": {
            "PYTHONHASHSEED": os.environ.get("PYTHONHASHSEED"),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        },
        "git_sha": git_sha(),
        "engine_source_hash": source_hash(),
        "host": runner.T.host_window(runner.host_start, runner.host_end),
        "setup": runner.setup,
        "rounds": runner.n_rounds,
        "window_s": runner.window_s,
        "ops": len(runner.records),
        "op_log": [
            [r["shape"], round(r["ms"], 1), r["ok"]] + ([r["versions"], r["plan_nodes"]] if "versions" in r else [])
            for r in runner.records
        ],
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "tails": runner.tails,
        "failures": dict(runner.outcomes.by_kind),
        "shapes": runner.shapes(),
        "plan_fingerprints": fps,
        "per_layer": layers,
    }
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    stem = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if runner.trace:
        with open(stem + ".spans.jsonl", "w") as fh:
            for s in runner.tracer.spans:
                fh.write(json.dumps(s) + "\n")
    print(json.dumps(record, default=str))
    if runner.trace:
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in sorted(layers.items())}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items() if k in E2E_REPORTED}
    print(json.dumps({
        "correct": runner.outcomes.failed == 0,
        "attempted": runner.outcomes.attempted,
        "failed": runner.outcomes.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
