"""The driver tier shared by the iterative operators (GAS, property-path and
RDFS closures), and the bounded collects every driver-side reader uses.

At driver-sized inputs the per-round fixed cost of a distributed loop — a
Catalyst compile plus a few AQE stage jobs per ``localCheckpoint`` round —
dwarfs the data work, so the whole input comes to the driver in ONE bounded
Arrow collect, a python/numpy kernel runs over it, and the answer goes back
as one Arrow batch. The rule is the same for every operator:

* one gate, :data:`DRIVER_TIER_MAX_ROWS`, checked by the collect itself
  (``limit(gate + 1)``), so driver memory is bounded by the gate even
  when the input turns out too big — no separate ``count()`` job;
* the collect reads a lazy local checkpoint of the input, so the same job
  also materializes it: a call that falls through to its distributed loop
  reads that checkpoint and never computes the input a second time;
* an input whose optimized plan is a local relation (rows the driver
  already holds: Δ-only edges, an earlier kernel's answer) is read with no
  Spark job and no checkpoint, under the same gate and null checks;
* the call falls through when the input is over the gate, holds a null id,
  or the kernel bails (cycle / explosion guards), and the distributed loops
  are unchanged past the gate, so the 100 TB path never routes through the
  driver. Its one extra cost over a plain checkpoint is the bounded collect:
  at most ``gate + 1`` rows per partition through one shuffle, and
  ``gate + 1`` rows to the driver.

Driver-held key rows enter a plan as a null-safe literal predicate up to
:data:`LITERAL_MAX_ROWS` rows, and as a broadcast local relation past it
(``model.store.key_rows``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row

DRIVER_TIER_MAX_ROWS = 500_000
# Driver-held key rows up to this many enter a plan as a literal predicate,
# more as a broadcast join; the crossover, build cost included, is measured
# in docs/scale_notes.md "Updates and versions".
LITERAL_MAX_ROWS = 128


def _chk(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def local_rows(df: DataFrame) -> list[Row] | None:
    """The rows of ``df`` when its optimized plan is a local relation — rows
    the driver already holds — collected with no Spark job; else None."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return df.collect() if plan.getClass().getSimpleName() == "LocalRelation" else None


def collect_bounded(df: DataFrame):
    """``(frame, pdf)``: ``frame`` is ``df`` locally checkpointed, and
    ``pdf`` is it as a pandas frame from one Arrow collect, or None when it
    holds more than :data:`DRIVER_TIER_MAX_ROWS` rows (read at call time) or
    a null in any column. The collect is the job that materializes
    ``frame``; a gate of 0 turns the tier off and checkpoints eagerly. A
    local relation is its own ``frame`` and is read with no job."""
    if DRIVER_TIER_MAX_ROWS <= 0:
        return _chk(df), None
    rows = local_rows(df)
    if rows is not None:
        if len(rows) > DRIVER_TIER_MAX_ROWS or any(v is None for r in rows for v in r):
            return df, None
        import pandas as pd

        return df, pd.DataFrame.from_records(rows, columns=df.columns)
    frame = df.localCheckpoint(eager=False)
    # gate and null checks on the Arrow table: an over-gate input skips the
    # pandas conversion of its gate + 1 rows
    table = frame.limit(DRIVER_TIER_MAX_ROWS + 1).toArrow()
    if table.num_rows > DRIVER_TIER_MAX_ROWS or any(c.null_count for c in table.columns):
        return frame, None
    return frame, table.to_pandas()


def collect_rows(df: DataFrame, bound: int | None) -> list[Row] | None:
    """The rows of ``df`` in one collect, or None when it holds more than
    ``bound``: ``limit(bound + 1)`` keeps driver memory at ``bound + 1`` rows
    with no separate count job. ``bound=None`` collects every row. Update
    callers pass :data:`DRIVER_TIER_MAX_ROWS`, read at call time.

    The collect is one job when ``df`` has one partition or a row bound
    Catalyst knows to be under ``bound`` (the limit is then dropped); over
    several partitions (a Δ-composed source is its base's plus one) Spark's
    take scans them in rounds of one job each. Reading them in one job
    through the limit's RDD costs a single-partition shuffle, which measured
    slower (docs/scale_notes.md "Updates and versions"). A local relation
    (a frame made by :func:`to_frame`) comes back without a Spark job."""
    if bound is None:
        return df.collect()
    rows = df.limit(bound + 1).collect()
    return None if len(rows) > bound else rows


def to_frame(spark, data, schema) -> DataFrame:
    """Driver-computed rows (a list of tuples or a pandas frame, columns in
    ``schema`` order) back to Spark as one Arrow batch; pickling tuples one
    by one costs ~1 s per 200k rows. Empty input yields an empty frame with
    the declared schema."""
    import pandas as pd

    if len(data) == 0:
        return spark.createDataFrame([], schema)
    if not isinstance(data, pd.DataFrame):
        data = pd.DataFrame(data)
    return spark.createDataFrame(data, schema)
