"""The benchmark workloads.

Each workload owns its inputs (made from the seed by :mod:`inputs`), the
operation it times, the checks on that operation's outputs, and the
per-layer breakdown of the traced run. Lazy layers cannot be timed by
their call alone, so the breakdown forces each layer's output through
Spark's noop sink one prefix at a time: a layer's self time is its
forced prefix minus the forced prefix of its input, and its operator
counts and SQL metrics are the difference of the two executions.
"""

from __future__ import annotations

import os
import random
import statistics
from collections.abc import Callable
from contextlib import contextmanager

import duckdb

import checks
import inputs
from tracing import PlanTotals, Span, StageTotals, Tracer

PREFIX_REPEATS = 2


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@contextmanager
def spanned(tracer: Tracer, owner, attr: str, name: str):
    """Record a span around every call of ``owner.attr`` while active."""
    orig = getattr(owner, attr)

    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return orig(*args, **kwargs)

    setattr(owner, attr, wrapper)
    try:
        yield
    finally:
        setattr(owner, attr, orig)


class Prefix:
    """One lazy prefix forced through the noop sink (fastest of a few)."""

    def __init__(self, tracer: Tracer, name: str, build: Callable):
        spans = []
        for _ in range(PREFIX_REPEATS):
            with tracer.span(name) as s:
                noop(build())
            spans.append(s)
        self.span: Span = min(spans, key=lambda s: s.seconds)
        self.seconds = self.span.seconds
        self.plan: PlanTotals = tracer.plan_totals(self.span)
        self.stages: StageTotals = tracer.stage_totals(self.span)


def joins(plan: PlanTotals) -> int:
    return plan.count_suffix("Join") + plan.count("CartesianProduct")


def op_layer_delta(layer: Prefix, base: Prefix) -> dict:
    """Operator counts and SQL metrics a layer adds on top of its input."""
    a, b = layer.plan, base.plan

    def diff(metric: str, op_suffix: str = "") -> float:
        return a.total(metric, op_suffix) - b.total(metric, op_suffix)

    return {
        "sorts": a.count("Sort") - b.count("Sort"),
        "exchanges": a.count_suffix("Exchange") - b.count_suffix("Exchange"),
        "agg_build_ms": diff("time in aggregation build", "Aggregate"),
        "sort_ms": diff("sort time", "Sort"),
        "spill_bytes": diff("spill size"),
        "peak_mem_bytes": layer.stages.peak_mem_bytes,
        "task_skew": layer.stages.max_skew,
    }


class Workload:
    """Base class: one seeded input set and one timed operation."""

    name = ""

    def __init__(self, spark, work_dir: str, seed: int, spec: dict):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.spec = spec
        self.n_turns = 0  # raw turns one operation consumes
        self.n_values = 0  # long-panel values one operation consumes

    def prepare(self) -> None:
        """Make the inputs and the expected answers."""
        raise NotImplementedError

    def items(self) -> list[tuple[str, Callable]]:
        """One pass of timed operations as (name, call) pairs."""
        raise NotImplementedError

    def check(self, name: str, result) -> list[str]:
        """Problems with one operation's output (run untimed)."""
        return []

    @contextmanager
    def instrumented(self, tracer: Tracer):
        """Spans inside an operation while the traced passes run."""
        yield

    def layers(self, tracer: Tracer, op_spans: list[Span]) -> dict:
        """Per-layer metrics from the traced passes and forced prefixes."""
        return {}

    def sizes(self) -> dict:
        return {"turns": self.n_turns, "values": self.n_values}


# ---------------------------------------------------------------------------


class TierCascade(Workload):
    """``jobs.run_rollup_job`` raw -> minute -> hour -> day through the
    parquet tier catalog, checked against a DuckDB recomputation."""

    name = "tier_cascade"
    TIERS = {"minute": 60_000_000, "hour": 3_600_000_000, "day": 86_400_000_000}

    def prepare(self) -> None:
        self.turns_path = os.path.join(self.work, "turns")
        self.out_root = os.path.join(self.work, "tiers")
        self.n_turns = inputs.write_turns(
            self.spark, self.turns_path, self.seed, self.spec["n_convs"], self.spec["mega_share"]
        )
        self.turns = self.spark.read.parquet(self.turns_path)
        self.con = duckdb.connect()
        self.expected = checks.expected_tiers(self.con, self.turns_path, self.TIERS)
        self.n_values = self.con.execute("SELECT count(*) FROM long").fetchone()[0]

    def _run(self):
        from ts_raster_spark.jobs import RollupJobConfig, run_rollup_job

        cfg = RollupJobConfig(out_root=self.out_root, n_buckets=self.spec["n_buckets"])
        return run_rollup_job(self.spark, self.turns, cfg)

    def items(self):
        return [("run_rollup_job", self._run)]

    def check(self, name, result):
        problems = [
            f"{t}: job counted {result.get(t)} rows, expected {n}"
            for t, n in self.expected.items()
            if result.get(t) != n
        ]
        return problems + checks.tier_problems(self.con, self.out_root, self.TIERS)

    @contextmanager
    def instrumented(self, tracer):
        from ts_raster_spark.sources.catalog import ParquetTierCatalog as C

        with spanned(tracer, C, "write", "catalog.write"), spanned(
            tracer, C, "row_count", "catalog.row_count"
        ):
            yield

    def layers(self, tracer, op_spans):
        from ts_raster_spark.operators.cascade import cascade_up
        from ts_raster_spark.operators.longform import with_channels
        from ts_raster_spark.operators.rollup import rollup_simple_wide
        from ts_raster_spark.sources.catalog import ParquetTierCatalog

        spark, turns = self.spark, self.turns
        cat = ParquetTierCatalog(self.out_root, n_buckets=self.spec["n_buckets"])
        scan = Prefix(tracer, "prefix.scan", lambda: turns)
        chan = Prefix(tracer, "prefix.longform", lambda: with_channels(turns))
        minute = Prefix(tracer, "prefix.rollup", lambda: rollup_simple_wide(turns, "minute"))
        r_min = Prefix(tracer, "prefix.read_minute", lambda: cat.read(spark, "rollup_minute"))
        hour = Prefix(tracer, "prefix.cascade_hour", lambda: cascade_up(cat.read(spark, "rollup_minute"), "hour"))
        r_hour = Prefix(tracer, "prefix.read_hour", lambda: cat.read(spark, "rollup_hour"))
        day = Prefix(tracer, "prefix.cascade_day", lambda: cascade_up(cat.read(spark, "rollup_hour"), "day"))

        n_ops = len(op_spans)
        kids = [s for s in tracer.spans if s.parent in {o.id for o in op_spans}]
        write_s = sum(s.seconds for s in kids if s.name == "catalog.write") / n_ops
        rows = self.expected
        nbytes, nfiles = checks.parquet_footprint(self.out_root)
        out = {
            "longform.s": chan.seconds - scan.seconds,
            "longform.rows_out_per_turn": self.n_values / self.n_turns,
            "longform.joins": joins(chan.plan) - joins(scan.plan),
            "longform.shuffle_bytes": chan.stages.shuffle_write_bytes - scan.stages.shuffle_write_bytes,
            "rollup.s": minute.seconds - chan.seconds,
            "rollup.groups_out": rows["minute"],
            "cascade.s": (hour.seconds - r_min.seconds) + (day.seconds - r_hour.seconds),
            "cascade.rows_in_per_row_out": (rows["minute"] + rows["hour"]) / (rows["hour"] + rows["day"]),
            "catalog.write_s": write_s - (minute.seconds + hour.seconds + day.seconds),
            "catalog.row_count_s": sum(s.seconds for s in kids if s.name == "catalog.row_count") / n_ops,
            "catalog.write_bytes": nbytes,
            "catalog.write_files": nfiles,
            "catalog.bytes_per_turn": nbytes / self.n_turns,
            "jobs.self_s": statistics.mean(tracer.self_seconds(s) for s in op_spans),
        }
        out.update({f"rollup.{k}": v for k, v in op_layer_delta(minute, chan).items()})
        return out


# ---------------------------------------------------------------------------


class QueryMix(Workload):
    """A fixed list of declared queries, each built and collected the way
    ``tools/check_correctness.py`` does it, plus the Gorilla block round trip
    (``compress_blocks`` then ``decompress_blocks``) collected the same
    way and checked bit for bit. The seed also permutes their order."""

    name = "query_mix"

    def prepare(self) -> None:
        import __spark_entry__ as E

        s = self.spec
        self.data_dir = os.path.join(self.work, "sandbox")
        self.n_turns = inputs.write_events(self.data_dir, self.seed, s["n_events"], s["n_users"])
        self.con = duckdb.connect()
        self.con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM '{self.data_dir}/events.parquet'")
        declared, oracle = E.queries(), E.oracle_sql()
        self.queries = {q: declared[q] for q in s["queries"]}
        self.answers = {q: self.con.execute(oracle[q]).fetchdf() for q in s["queries"]}
        self.kernel = s["kernel"]["name"]
        self.queries[self.kernel] = lambda spark, d: self.roundtrip_df()
        self.points = self.long_df(s["kernel"]["channels"]).toPandas()
        self.n_values = checks.long_panel_rows(self.con)
        self.order = list(self.queries)
        random.Random(self.seed).shuffle(self.order)

    def long_df(self, kinds):
        from pyspark.sql import functions as F

        from ts_raster_spark.queries import load_long

        return load_long(self.spark, self.data_dir).where(F.col("kind").isin(*kinds))

    def blocks_df(self):
        from ts_raster_spark.operators.compress import compress_blocks

        c = self.spec["kernel"]
        return compress_blocks(self.long_df(c["channels"]), block=c["block"])

    def roundtrip_df(self):
        from ts_raster_spark.operators.compress import decompress_blocks

        return decompress_blocks(self.blocks_df())

    def _query(self, name: str):
        return self.queries[name](self.spark, self.data_dir).toPandas()

    def items(self):
        return [(q, lambda q=q: self._query(q)) for q in self.order]

    def check(self, name, result):
        if name == self.kernel:
            return checks.roundtrip_problems(self.points, result)
        return checks.oracle_problems(name, result, self.answers[name])

    @contextmanager
    def instrumented(self, tracer):
        def traced(name):
            with tracer.span("queries.plan"):
                df = self.queries[name](self.spark, self.data_dir)
                df._jdf.queryExecution().executedPlan()
            with tracer.span("queries.exec"):
                return df.toPandas()

        plain = self._query
        self._query = traced
        try:
            yield
        finally:
            self._query = plain

    def layers(self, tracer, op_spans):
        from ts_raster_spark.operators.compress import BLOCK_SCHEMA, decompress_blocks
        from ts_raster_spark.queries import load_long, load_turns

        spark, d, spec = self.spark, self.data_dir, self.spec
        kids = {k: [s.seconds for s in tracer.spans if s.name == k] for k in ("queries.plan", "queries.exec")}
        long_queries = set(spec["long_panel_queries"])
        out = {
            "queries.plan_s": statistics.median(kids["queries.plan"]),
            "queries.exec_s": statistics.median(kids["queries.exec"]),
            "queries.jobs_per_query": statistics.mean(len(tracer.job_ids(s)) for s in op_spans),
            # join operators per pass over the queries built on the long panel
            "longform.joins": sum(joins(tracer.plan_totals(s)) for s in op_spans if s.name in long_queries)
            * len(self.order) / len(op_spans),
        }

        events = Prefix(tracer, "prefix.scan", lambda: spark.read.parquet(f"{d}/events.parquet"))
        turns = Prefix(tracer, "prefix.sources", lambda: load_turns(spark, d))
        long = Prefix(tracer, "prefix.longform", lambda: load_long(spark, d))
        out["sources.derive_s"] = turns.seconds - events.seconds
        out["longform.s"] = long.seconds - turns.seconds
        out["longform.rows_out_per_turn"] = self.n_values / self.n_turns
        out["longform.shuffle_bytes"] = long.stages.shuffle_write_bytes - turns.stages.shuffle_write_bytes

        r = spec["rollup"]
        base = Prefix(tracer, "prefix.rollup_input", lambda: self.long_df(r["kinds"]))
        full = Prefix(tracer, "prefix.rollup", lambda: self.queries[r["query"]](spark, d))
        out["rollup.s"] = full.seconds - base.seconds
        out["rollup.groups_out"] = len(self.answers[r["query"]])
        out.update({f"rollup.{k}": v for k, v in op_layer_delta(full, base).items()})

        blocks_pdf = self.blocks_df().toPandas()
        n = int(blocks_pdf["n"].sum())
        nbytes = sum(map(len, blocks_pdf["ts_block"])) + sum(map(len, blocks_pdf["val_block"]))
        out["compress.bits_per_value"] = 8 * nbytes / n
        out["compress.groups"] = len(blocks_pdf[["conv_id", "kind"]].drop_duplicates())
        points = Prefix(tracer, "prefix.compress_input", lambda: self.long_df(spec["kernel"]["channels"]))
        enc = Prefix(tracer, "prefix.encode", self.blocks_df)
        held = lambda: spark.createDataFrame(blocks_pdf, BLOCK_SCHEMA)  # noqa: E731
        blocks = Prefix(tracer, "prefix.blocks", held)
        dec = Prefix(tracer, "prefix.decode", lambda: decompress_blocks(held()))
        out["compress.encode_s"] = enc.seconds - points.seconds
        out["compress.decode_s"] = dec.seconds - blocks.seconds
        out["compress.python_s"] = self.kernel_python_seconds()
        return out

    def kernel_python_seconds(self) -> float:
        """Python time inside the encode and decode kernels of one round
        trip, from Spark's UDF profiler (perf mode)."""
        key = "spark.sql.pyspark.udf.profiler"
        self.spark.profile.clear()
        self.spark.conf.set(key, "perf")
        try:
            noop(self.roundtrip_df())
        finally:
            self.spark.conf.unset(key)
        # the collector keeps one pstats.Stats per UDF; there is no public
        # accessor for their totals
        results = self.spark.profile.profiler_collector._perf_profile_results
        total = sum(st.total_tt for st in results.values() if st)
        self.spark.profile.clear()
        return total


WORKLOADS = {w.name: w for w in (TierCascade, QueryMix)}
