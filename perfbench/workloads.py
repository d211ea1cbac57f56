"""The benchmark's workloads. Each drives the engine from one client
thread in a closed loop and checks every op against an independent
oracle, outside the timed window.

A workload runs its ops in cycles of ``cycle_len`` ops, and a run
times whole cycles only. Every cycle has the same shape for every seed
(the same deliveries, redeliveries and compaction on the stream, the
same query mix on the dashboard); the seed picks the data and the
order. So every run times the same op positions whatever the speed,
and the traced run's counts repeat run to run.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import statistics
import threading
import time
from collections import Counter, defaultdict
from datetime import date, datetime, timezone

import duckdb
import pyarrow.parquet as pq

import gen
from spans import SPARK_FIELDS

FOLD_TIMEOUT_S = 60


def _normalize(v):
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return "0.0" if v == 0.0 else repr(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    return str(v)


def row_multiset(rows, colnames) -> Counter:
    """Order-insensitive multiset of rows with columns in name order."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return Counter(tuple(_normalize(r[i]) for i in order) for r in rows)


def _committed_rows(table_dir: str) -> int:
    """Rows a reader of an append-segment table sees, counted from parquet
    footers without Spark: segments ``v=N`` up to ``_LATEST``, minus those
    folded into a compacted segment (its ``_COMPACTED_THROUGH`` marker)."""
    with open(f"{table_dir}/_LATEST") as f:
        latest = int(f.read())
    segs = [int(d[2:]) for d in os.listdir(table_dir) if d.startswith("v=") and d[2:].isdigit()]
    segs = [v for v in segs if v <= latest]
    folded = 0
    for v in segs:
        marker = f"{table_dir}/v={v}/_COMPACTED_THROUGH"
        if os.path.exists(marker):
            with open(marker) as f:
                folded = max(folded, int(f.read()))
    return sum(pq.ParquetFile(p).metadata.num_rows for v in segs if v > folded
               for p in glob.glob(f"{table_dir}/v={v}/**/*.parquet", recursive=True))


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def _mean(values) -> float:
    return statistics.fmean(values) if values else 0.0


class StreamIngest:
    """Webhook-driven incremental ingest. One op is one delivery of a
    micro-batch epoch, timed from the moment its file lands in the
    source directory of a running stream to the moment a served read of
    the rollup reflects it.

    The stream's fold appends the epoch's parsed order items and its
    event partials to two append-segment tables under the epoch's txn
    key; then both tables get the engine's compaction policy, and the
    rollup is served by merging the partials. A redelivered epoch must
    leave both tables unchanged.

    A cycle is ``EPOCHS`` epochs on a fresh stream over fresh tables,
    the last one delivered twice: with a policy of at most
    ``MAX_SEGMENTS`` segments, the last epoch's append makes one segment
    too many, so that delivery compacts both tables, and its redelivery
    is then checked against the compacted table's txn log."""

    name = "stream_ingest"
    EPOCHS = 5
    MAX_SEGMENTS = 4
    ORDERS_PER_EPOCH = gen.ORDERS_PER_DAY
    EVENTS_PER_EPOCH = gen.EVENTS_PER_DAY

    def __init__(self, seed: int, data_dir: str):
        self.seed, self.data = seed, data_dir
        self.gen = gen.EpochStream(seed, self.ORDERS_PER_EPOCH, self.EVENTS_PER_EPOCH)
        self.deliveries = self.gen.schedule(self.EPOCHS)
        self.cycle_len = len(self.deliveries)
        self.inputs = {"epochs_per_cycle": self.EPOCHS, "deliveries_per_cycle": self.cycle_len,
                       "max_segments": self.MAX_SEGMENTS,
                       "orders_per_epoch": self.gen.n_orders, "events_per_epoch": self.gen.n_events,
                       "late_share": gen.LATE_SHARE, "redelivery_share": gen.REDELIVERY_SHARE}
        # per op of the traced pass
        self.trigger_wait_s: list[float] = []
        self.segments_per_read: list[int] = []
        self.compactions: list[int] = []
        self.cycle = None
        self.query = None
        self.batch_done = threading.Event()
        self.labels: list[str] = []  # kind of each timed op, for the report

    # -- state -----------------------------------------------------------
    def teardown(self) -> None:
        """Stop the running stream and remove its files."""
        if self.query is not None:
            self.query.stop()
            self.query = None
        if self.cycle is not None:
            shutil.rmtree(os.path.join(self.data, f"cycle{self.cycle}"), ignore_errors=True)
            self.cycle = None

    def _start(self, spark, cycle) -> None:
        """Start a fresh stream, with a fresh source dir, checkpoint and
        tables, for cycle ``cycle``."""
        from z316_sales_data_pipeline_spark.streaming import pipeline as streaming

        self.cycle = cycle
        root = os.path.join(self.data, f"cycle{cycle}")
        self.src, self.stage = f"{root}/src", f"{root}/stage"
        self.items_dir, self.partials_dir = f"{root}/itens", f"{root}/partials"
        for d in (self.src, self.stage):
            os.makedirs(d, exist_ok=True)
        self.expected: dict[tuple[str, str], list[int]] = defaultdict(lambda: [0, 0])
        self.expected_items = 0
        self.records: dict[int, list[dict]] = {}
        stream = streaming.file_stream(spark, self.src, gen.EpochStream.SCHEMA_DDL)
        self.query = streaming.run_multi_sink(
            stream, {"itens": self._land_items, "partials": self._land_partials},
            f"{root}/ckpt", available_now=False)

    def prepare(self) -> None:
        pass

    def setup(self, spark, k: int) -> None:
        self._start(spark, f"setup{k}")

    def instrument(self, tracer) -> None:
        from z316_sales_data_pipeline_spark.plans import rollup
        from z316_sales_data_pipeline_spark.sources import json_ingest

        tracer.wrap_lazy(json_ingest, "parse_and_explode", "sources.parse_and_explode")
        tracer.wrap_lazy(rollup, "event_partials", "plans.rollup.event_partials")

    def before_op(self, spark, i: int) -> None:
        cycle, pos = divmod(i, self.cycle_len)
        if pos == 0 or cycle != self.cycle:
            self.teardown()
            self._start(spark, cycle)
        self._stage(i, cycle, *self.deliveries[pos])
        self.labels.append("redelivery" if self.deliveries[pos][1] else "epoch")

    def _stage(self, i: int, cycle: int, epoch: int, replay: bool) -> None:
        """Write delivery ``i``'s file outside the source dir; the op
        moves it in."""
        if epoch not in self.records:
            self.records[epoch] = self.gen.records(cycle, epoch)
        path = f"{self.stage}/{i}.json"
        with open(path, "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in self.records[epoch])
        self.pending = (i, epoch, replay, path)

    # -- the fold (runs on the stream's thread) --------------------------
    def _land_items(self, batch) -> None:
        from pyspark.sql import functions as F

        from z316_sales_data_pipeline_spark import sinks
        from z316_sales_data_pipeline_spark.sources import json_ingest

        self.fold_start = time.perf_counter()
        _, epoch, replay, _ = self.pending
        items = json_ingest.parse_and_explode(batch.filter(F.col("kind") == "pedido").select("payload"))
        with self.tracer.span("sinks.append_replay_noop" if replay else "sinks.append_snapshot"):
            sinks.append_snapshot(items, self.items_dir, txn_key=f"epoch-{epoch}")

    def _land_partials(self, batch) -> None:
        from pyspark.sql import functions as F

        from z316_sales_data_pipeline_spark import sinks
        from z316_sales_data_pipeline_spark.plans import rollup

        _, epoch, replay, _ = self.pending
        events = batch.filter(F.col("kind") == "event").select(
            "event_id", F.timestamp_micros("ts_us").alias("ts"), "user_id", "event_type", "value")
        partials = rollup.event_partials(events)
        with self.tracer.span("sinks.append_replay_noop" if replay else "sinks.append_snapshot"):
            sinks.append_snapshot(partials, self.partials_dir, txn_key=f"epoch-{epoch}")
        self.batch_done.set()

    # -- the op ----------------------------------------------------------
    def op(self, spark, i: int, tracer):
        from z316_sales_data_pipeline_spark import sinks
        from z316_sales_data_pipeline_spark.plans import rollup

        self.tracer = tracer
        self.fold_start = None
        self.batch_done.clear()
        with tracer.span("streaming.run_multi_sink"):
            self.t_drop = time.perf_counter()
            os.replace(self.pending[3], f"{self.src}/{i}.json")
            while not self.batch_done.wait(0.05):
                if not self.query.isActive:
                    raise RuntimeError(f"stream stopped: {self.query.exception()}")
                if time.perf_counter() - self.t_drop > FOLD_TIMEOUT_S:
                    raise TimeoutError(f"no fold within {FOLD_TIMEOUT_S} s of the file drop")
        compacted = 0
        for table in (self.items_dir, self.partials_dir):
            with tracer.span("sinks.maybe_compact"):
                compacted += sinks.maybe_compact(spark, table, max_segments=self.MAX_SEGMENTS) is not None
        segments = sinks.committed_segment_count(self.partials_dir)
        with tracer.span("sinks.read_appended"):
            partials = sinks.read_appended(spark, self.partials_dir)
        with tracer.span("plans.rollup.merge_partials"):
            rows = rollup.merge_partials(partials).collect()
        if tracer.enabled:
            self.trigger_wait_s.append(self.fold_start - self.t_drop)
            self.segments_per_read.append(segments)
            self.compactions.append(compacted)
        return rows

    def latency(self, i: int, t0: float, t1: float) -> float:
        return t1 - self.t_drop

    # -- the oracle ------------------------------------------------------
    def check(self, spark, i: int, rows) -> bool:
        """The served rollup must equal the rollup of every distinct
        delivered epoch's events, computed here in Python; the item table
        must hold every distinct epoch's items exactly once."""
        _, epoch, replay, _ = self.pending
        if not replay:
            for r in self.records[epoch]:
                if r["kind"] == "event":
                    day = datetime.fromtimestamp(r["ts_us"] // gen.DAY_US * 86_400, timezone.utc)
                    day = day.replace(tzinfo=None).isoformat()
                    acc = self.expected[(day, r["event_type"])]
                    acc[0] += 1
                    acc[1] += math.floor(r["value"] * 100 + 0.5)
                else:
                    self.expected_items += len(json.loads(r["payload"])["itens"])
        served = {(r["bucket_day"].isoformat(), r["event_type"]): [r["n_events"], r["value_cents"]] for r in rows}
        return served == dict(self.expected) and _committed_rows(self.items_dir) == self.expected_items

    def layer_metrics(self, spans: list[dict]) -> dict:
        return _span_metrics(spans, STREAM_SPANS) | {
            "streaming.trigger_wait_s": (_median(self.trigger_wait_s), "s"),
            "sinks.segments_per_read": (_median(self.segments_per_read), "count"),
            "sinks.compactions": (sum(self.compactions), "count"),
        }


class BiDashboard:
    """Dashboard read traffic: one op is one registry query, collected
    and compared with its DuckDB oracle twin. Each query is tagged with
    the operator family it mainly exercises. A cycle holds a fixed,
    Zipf-skewed mix of queries (the most popular runs four times in
    fourteen), shuffled per seed, so repeats are common."""

    name = "bi_dashboard"
    # query -> operator family, most popular first. The slowest query,
    # pareto_abc, is second (two in fourteen), so op_p90_s falls inside
    # its block rather than between two queries' latencies.
    QUERIES = {
        "q3_shipping_priority": "joins",
        "pareto_abc": "windows",
        "topk_per_group": "windows",
        "q1_pricing_summary": "aggregates",
        "w1_group_total": "windows",
        "g2_union_distinct": "setops",
        "funnel_conversion": "aggregates",
        "q18_top_customers": "joins",
        "cohort_retention": "aggregates",
        "q5_nation_volume": "joins",
    }
    CYCLE = 10  # queries per cycle before rounding the Zipf counts
    TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
    N_ORDERS = 3000  # events in the fixture's ratio to orders, 2:3
    N_EVENTS = 2000

    def __init__(self, seed: int, data_dir: str):
        self.seed, self.data = seed, data_dir
        self.mix = gen.query_mix(list(self.QUERIES), self.CYCLE)
        self.cycle_len = len(self.mix)
        self.inputs = {"orders": self.N_ORDERS, "events": self.N_EVENTS,
                       "mix_per_cycle": dict(Counter(self.mix)), "zipf_s": gen.QUERY_ZIPF_S}
        self.order: list[str] = []
        self.oracle: dict[str, Counter] = {}
        self.labels: list[str] = []  # query of each timed op, for the report

    def prepare(self) -> None:
        """Generate the star schema and compute each query's oracle rows
        on DuckDB."""
        import __spark_entry__ as entry

        self.sf_dir = os.path.join(self.data, "sf")
        self.inputs["rows"] = gen.star_schema(self.sf_dir, self.seed, self.N_ORDERS, self.N_EVENTS)

        self.fns, sqls = entry.queries(), entry.oracle_sql()
        con = duckdb.connect()
        for t in self.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        for q in self.QUERIES:
            res = con.execute(sqls[q])
            cols = [d[0] for d in res.description]
            self.oracle[q] = (sorted(cols), row_multiset(res.fetchall(), cols))
        con.close()

    def setup(self, spark, k: int) -> None:
        pass

    def instrument(self, tracer) -> None:
        pass

    def teardown(self) -> None:
        pass

    def before_op(self, spark, i: int) -> None:
        cycle, pos = divmod(i, self.cycle_len)
        if pos == 0:
            self.order = gen.query_order(self.seed, cycle, self.mix)
        self.query = self.order[pos]
        self.labels.append(self.query)

    def op(self, spark, i: int, tracer):
        q = self.query
        with tracer.span(f"operators.{self.QUERIES[q]}") as c:
            df = self.fns[q](spark, self.sf_dir)
            rows = df.collect()
            c["query"] = q
        return q, df.columns, rows

    def latency(self, i: int, t0: float, t1: float) -> float:
        return t1 - t0

    def _matches(self, q, cols, rows) -> bool:
        want_cols, want = self.oracle[q]
        return sorted(cols) == want_cols and row_multiset(rows, cols) == want

    def check(self, spark, i: int, result) -> bool:
        return self._matches(*result)

    def layer_metrics(self, spans: list[dict]) -> dict:
        return _span_metrics(spans, BI_SPANS)



STREAM_SPANS = (
    "streaming.run_multi_sink", "sources.parse_and_explode", "sinks.append_snapshot",
    "sinks.append_replay_noop", "plans.rollup.event_partials", "sinks.maybe_compact",
    "sinks.read_appended", "plans.rollup.merge_partials",
)
BI_SPANS = ("operators.joins", "operators.aggregates", "operators.windows", "operators.setops")
ALL_SPANS = STREAM_SPANS + BI_SPANS


def _span_metrics(spans: list[dict], names) -> dict:
    """Per span name, the mean over its calls (so a call that only
    sometimes does work, like a compaction, is charged its amortized
    cost): wall time, and each Spark counter of the span's subtree."""
    by_name = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)
    out = {}
    for name in names:
        ss = by_name.get(name, [])
        out[f"{name}_s"] = (_mean([s["wall_s"] for s in ss]), "s")
        for k in SPARK_FIELDS:
            unit = "s" if k == "gc_s" else ("B" if k.endswith("bytes") else "count")
            out[f"{name}.spark.{k}"] = (_mean([s[f"spark.{k}"] for s in ss]), unit)
    return out


WORKLOADS = {w.name: w for w in (StreamIngest, BiDashboard)}


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit, in report order."""
    names = [("session.get_spark_s", "s"), ("persistence.pins_left_after_op", "count"),
             ("trace.overhead_s", "s"), ("streaming.trigger_wait_s", "s"),
             ("sinks.segments_per_read", "count"), ("sinks.compactions", "count")]
    names += [(k, u) for k, (_, u) in _span_metrics([], ALL_SPANS).items()]
    return names
