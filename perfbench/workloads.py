"""The benchmark's workloads: closed loops of one client driving the
engine through its public entry points only.

- ``trickle``: a preloaded target, then small arrival windows, each
  landed as a bronze parquet file just before ``run_merge(raw=None,
  window=None)`` — the real watermark read and advance path, and the
  window scan re-reading the whole bronze table every batch.
- ``stream_mix``: Debezium wire files landed one per micro-batch and
  drained by ``run_streaming_merge(source_format="text",
  transform=normalize_debezium)`` with a persistent checkpoint; Zipf
  keys, many deletes, late events.

Both issue a point lookup of hot keys through ``ParquetMergeTarget.read``
after every batch.
"""

from __future__ import annotations

import calendar
import os

import gen
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from spans import Tracer

from dataplatform_cdc_pipeline_spark import engine
from dataplatform_cdc_pipeline_spark.config import MergeConfig
from dataplatform_cdc_pipeline_spark.operators.merge_target import ParquetMergeTarget
from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore
from dataplatform_cdc_pipeline_spark.plans.merge_plan import build_changes, window_scan
from dataplatform_cdc_pipeline_spark.sources.debezium import normalize_debezium
from dataplatform_cdc_pipeline_spark.streaming import stream_merge

#: Silver target: every column goes through a cast rule — default casts,
#: bit_to_int ('true'/'false' → 1/0) and epoch millis → timestamp.
SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("qty", T.IntegerType()),
        T.StructField("active", T.IntegerType()),
        T.StructField("updated_at", T.TimestampType()),
    ]
)


def _visible(name: str) -> bool:
    """Spark's listing rule: '.' and '_' names are hidden, except
    partition directories such as ``__bucket=3``."""
    return not name.startswith(".") and (not name.startswith("_") or "=" in name)


def files_under(path: str) -> dict[str, int]:
    """Visible data files under ``path`` (relative name → bytes)."""
    out = {}
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if _visible(d)]
        for f in files:
            if _visible(f):
                full = os.path.join(root, f)
                out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """One run's state: the feed, the target, and what the oracle needs.

    ``setup`` builds a fresh copy under ``root`` (generation and preload);
    ``land`` + ``batch`` + ``read`` are the closed loop; ``probe`` runs the
    traced run's extra materialisations, outside the batch span.
    """

    traffic: gen.Traffic
    window_events: int
    landing: str  # landing directory name under the run root
    ms_ts = False
    watermark = True

    def __init__(self, spark: SparkSession, seed: int, tracer: Tracer):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer

    def setup(self, root: str) -> None:
        tr = self.tracer
        self.feed = gen.Feed(self.seed, self.traffic, ms_ts=self.ms_ts)
        self.landing_dir = f"{root}/{self.landing}"
        self.cfg = MergeConfig(
            cdc_table=self.landing_dir,
            target_table="orders",
            pk=("id",),
            ts_ns_encoding="nanos",
            bit_to_int_col=("active",),
            datetime_millis_cols=("updated_at",),
        )
        self.checkpoint = f"{root}/checkpoint"
        self.target = ParquetMergeTarget(self.spark, f"{root}/target", self.cfg, SCHEMA)
        self.audit = WatermarkStore(self.spark, f"{root}/audit")
        self.target.merge = tr.wrap("operators.merge_target.merge", self.target.merge)
        for name in ("read_watermark", "append_run", "append_job_log"):
            setattr(self.audit, name, tr.wrap(f"operators.watermark.{name}", getattr(self.audit, name)))
        #: per batch: highest window landed before it ran
        self.landed: list[int] = []
        #: per batch: the watermark the engine reported (epoch µs) or None
        self.reported_wm: list[int | None] = []
        #: (after batch, keys, rows) of every timed read
        self.reads: list = []
        self.land(snapshot=True)
        self.batch()

    def land(self, snapshot: bool = False) -> int:
        """Land the next window; returns its event count."""
        table = self.feed.window(self.window_events, snapshot=snapshot)
        self.last_file = self._write(table)
        self.landed_upto = self.feed.next_window - 1
        return table.num_rows

    def batch(self) -> None:
        self.landed.append(self.landed_upto)
        self._batch()

    def read(self) -> None:
        keys = self.feed.hot_keys
        with self.tracer.span("operators.merge_target.read"):
            rows = self.target.read().filter(F.col("id").isin(keys)).toArrow()
        self.reads.append((len(self.landed) - 1, keys, rows))

    def audit_files(self) -> int:
        return len(files_under(self.audit.path)) + len(files_under(self.audit.job_log_path))

    def rows_in(self, names) -> int:
        return sum(pq.read_metadata(os.path.join(self.target.path, n)).num_rows for n in names)

    def _probe_plan(self, raw, start) -> None:
        windowed = window_scan(raw, self.cfg, start, None)
        with self.tracer.span("plans.merge_plan.window_scan"):
            _noop(windowed)
        with self.tracer.span("plans.merge_plan.build_changes"):
            _noop(build_changes(windowed, self.target.schema, self.cfg))


class Trickle(Workload):
    """Uniform keys, 10% deletes, windows a tenth of the target."""

    traffic = gen.Traffic(keys=10_000, delete_share=0.10)
    window_events = 1_000
    landing = "bronze"

    def _write(self, table) -> str:
        return gen.land_bronze(table, self.landing_dir)

    def _batch(self) -> None:
        res = self.tracer.wrap("engine.run_merge", engine.run_merge)(
            self.spark, self.cfg, self.target, self.audit
        )
        end = res.get("cdc_end_ts")
        self.reported_wm.append(None if end is None else calendar.timegm(end.timetuple()) * 1_000_000 + end.microsecond)
        self.merged = res["records_inserted"] + res["records_deleted"]

    def probe(self) -> None:
        """The next batch's window scan, then its change set, to noop."""
        start = self.audit.read_watermark(self.cfg.cdc_table, self.cfg.target_table)
        self._probe_plan(self.spark.read.parquet(self.landing_dir), start)


class StreamMix(Workload):
    """Zipf keys (s=1.1), 30% deletes, 5% late events, Debezium ms clock."""

    traffic = gen.Traffic(keys=10_000, delete_share=0.30, late_share=0.05, zipf=1.1)
    window_events = 1_000
    landing = "wire"
    ms_ts = True
    watermark = False

    def setup(self, root: str) -> None:
        if self.tracer.enabled and stream_merge.run_merge is engine.run_merge:
            run_merge = self.tracer.wrap("engine.run_merge", engine.run_merge)

            def counted(*args, **kwargs):
                res = run_merge(*args, **kwargs)
                self.merged = res["records_inserted"] + res["records_deleted"]
                return res

            # the streaming front end calls the engine from its callback thread
            stream_merge.run_merge = counted
        super().setup(root)

    def _write(self, table) -> str:
        return gen.land_debezium(table, self.landing_dir)

    def _batch(self) -> None:
        with self.tracer.span("streaming.stream_merge.run_streaming_merge"):
            q = stream_merge.run_streaming_merge(
                self.spark,
                self.cfg,
                self.target,
                self.audit,
                self.landing_dir,
                self.checkpoint,
                source_format="text",
                transform=normalize_debezium,
            )
        self.progress = q.lastProgress
        self.reported_wm.append(None)

    def probe(self) -> None:
        """The landed file's Debezium normalisation, then its window scan
        and change set, to noop."""
        wire = self.spark.read.text(self.last_file)
        with self.tracer.span("sources.debezium.normalize"):
            _noop(normalize_debezium(wire))
        self._probe_plan(normalize_debezium(wire), None)


WORKLOADS = {"trickle": Trickle, "stream_mix": StreamMix}
