"""The MERGE-sink contract (K1-K4) every target implementation honors.

The reference's sink is engine-native DML — BigQuery ``MERGE`` transaction
(merge.sql:368-457) or MySQL UPDATE-join/INSERT-NOT-EXISTS/DELETE-join
(step-6:431-462). The Spark engine implements the same contract in three
sinks, all built on
:class:`~dataplatform_cdc_pipeline_spark.operators.merge_target.ParquetMergeTarget`:
the bucket-swap sink itself (bucket-level atomicity, crash-detectable via a
commit manifest), the table-atomic snapshot sink (``snapshot_target``) and
the deletion-vector sink (``dv_target``). The SCD2 history sink (``scd2``)
shares the base class and its commit but keeps history rows, so its own
tests cover it.

Semantics the three must satisfy (verified by
``tests/test_merge_target_contract.py``, which runs the SAME suite against
each of them):

- ``merge(changes)`` takes a DEDUPED change set (one row per PK) carrying
  the target data columns plus ``__op`` ('c'/'u'/'d') and optionally
  ``__load_ts``;
- ``__op != 'd'`` → matched rows update all columns, unmatched rows insert
  (merge.sql:403-418);
- ``__op = 'd'`` → matched rows are deleted; unmatched deletes are no-ops
  (merge.sql:428-436);
- ``cfg.update_only_op_u`` → only ``__op='u'`` updates matched rows; a
  matched 'c' leaves the target row untouched; inserts unaffected
  (step-6:431-451);
- ``cfg.strict_ts_guard`` → updates additionally require
  ``source.source_ts_ns_order >= target.source_ts_ns_order`` (null source
  ts passes); deletes are unconditional;
- the returned stats dict reports the candidate counts
  ``records_inserted`` / ``records_deleted`` and, when ``__load_ts`` is
  present, the processed window ``cdc_start_ts`` / ``cdc_end_ts``
  (merge.sql:360-366 — counts feed the audit row, the window feeds the
  watermark);
- ``pending_commit()`` is None on a cleanly-committed target (only the
  bucket-swap commit can ever leave a manifest; a snapshot commit is one
  atomic link).
"""

from __future__ import annotations

from abc import ABC, abstractmethod

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def augment_schema(schema: T.StructType) -> T.StructType:
    """Target schema = typed columns + injected audit columns (P18):
    ``source_ts_ns_order`` (event-time survivorship order) and ``pos``
    (source position tiebreak)."""
    names = {f.name for f in schema.fields}
    fields = list(schema.fields)
    if "source_ts_ns_order" not in names:
        fields.append(T.StructField("source_ts_ns_order", T.TimestampType()))
    if "pos" not in names:
        fields.append(T.StructField("pos", T.LongType()))
    return T.StructType(fields)


class MergeTarget(ABC):
    """ABC for K1-K4 merge sinks — see the module docstring for the
    semantics; ``tests/test_merge_target_contract.py`` is the executable
    form of this contract."""

    @abstractmethod
    def exists(self) -> bool:
        """True once the target holds at least one committed write."""

    @abstractmethod
    def read(self) -> DataFrame:
        """Current target state (empty frame with the target schema when
        the target does not exist yet)."""

    @abstractmethod
    def merge(self, changes: DataFrame) -> dict:
        """Apply a deduped change set atomically; returns the stats dict."""

    @abstractmethod
    def pending_commit(self) -> dict | None:
        """Evidence of a torn commit, or None when the target is clean."""
