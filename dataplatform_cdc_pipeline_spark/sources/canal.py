"""Canal envelope adapter: the third real CDC wire format (after
Debezium, sources/debezium.py, and Maxwell, sources/maxwell.py) → the
engine's flat bronze shape.

Canal (Alibaba's MySQL binlog reader) emits BATCH envelopes — one JSON
object per *statement*, with every affected row in an array::

    {"database": "db", "table": "t", "type": "INSERT|UPDATE|DELETE",
     "isDdl": false, "es": 1718000000123, "ts": 1718000000456,
     "id": 42, "pkNames": ["id"],
     "data": [{...row 1...}, {...row 2...}, ...],
     "old":  [{...changed cols, UPDATE only...}]}

Differences from the other two formats the adapter must absorb:

- the row image is an ARRAY — one envelope fans out to N bronze rows via
  ``posexplode``, and the array INDEX is part of the source position
  (statement order matters within a batch);
- ``type`` is an UPPERCASE word; DDL envelopes (``isDdl=true``) and
  non-DML types (QUERY, TRUNCATE, ...) carry no row image and map to a
  NULL op → dropped at the plan's op-not-null gate (F1), like Maxwell's
  bootstrap markers;
- ``es`` (the MySQL execution time) is MILLIS — coarser than Debezium
  (µs), finer than Maxwell (s) — and it is an ENVELOPE-level time: every
  row in the batch inherits the statement's commit instant, so intra-
  batch order resolves purely on the (envelope id, array index) position.

The composite position packs as ``id · 1000 + idx`` into the engine's
LONG ``__pos`` (``merge_plan.window_scan`` casts the tiebreak to long).
``_BATCH_POS_WIDTH`` = 1000 bounds one envelope at 1000 rows — beyond
that Canal itself splits statements into multiple envelopes; the adapter
fails loudly (ANSI arithmetic stays exact, and the guard column raises on
violation) rather than silently colliding positions.

Everything is native Columns (one ``from_json`` of the whole envelope,
array included, then one generator ``posexplode``) — scan-speed, no
Python in the path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: One envelope may carry at most this many rows (Canal's own batch cap
#: is configurable but well below this); the packed position is
#: ``id * _BATCH_POS_WIDTH + idx``.
_BATCH_POS_WIDTH = 1000


def _engine_op(t: Column, is_ddl: Column) -> Column:
    dml = (
        F.when(t == "INSERT", F.lit("c"))
        .when(t == "UPDATE", F.lit("u"))
        .when(t == "DELETE", F.lit("d"))
    )  # QUERY/TRUNCATE/ALTER/... → NULL → dropped (F1)
    return F.when(is_ddl, F.lit(None).cast("string")).otherwise(dml)


def normalize_canal(
    raw: DataFrame,
    value_col: str = "value",
    load_ts_col: str | None = None,
    source_name: str = "canal",
) -> DataFrame:
    """Canal batch envelopes → bronze CDC frame
    ``(data, load_ts, publish_time, message_id, source_db_table,
    subscription_name)`` — directly consumable by
    :func:`plans.merge_plan.window_scan` and the merge engine.

    ``__ts_ns`` = ``es`` · 1e6 (millis → the engine's ns encoding: µs
    event time quantizes to whole milliseconds, the envelope's statement
    granularity). ``__source_pos`` = ``id·1000 + idx`` — the envelope id
    then the row's array index, so replaying a batch preserves statement
    order. One envelope explodes to N rows AFTER the op gate, so marker
    envelopes never reach the generator."""
    # ONE from_json parse per envelope (r13, guide §1.2/§2.3): previously
    # seven scalar get_json_object probes plus a second from_json of the
    # extracted data-array text. ``isDdl`` parses as boolean (true ⟺ the
    # old string comparison against "true"); the array parses directly —
    # JSON null/absent data → NULL array, matching get_json_object's null
    # — so gating, fan-out and the re-serialized payload are byte-
    # identical (tests/test_opt_r13.py).
    e = F.from_json(
        F.col(value_col),
        "database string, table string, type string, isDdl boolean, es long, "
        "id long, data array<map<string,string>>",
    )
    is_ddl = F.coalesce(e["isDdl"], F.lit(False))
    op = _engine_op(e["type"], is_ddl)
    es_ms = e["es"]
    env_id = e["id"]
    rows = e["data"]
    gated = (
        raw.filter(op.isNotNull() & rows.isNotNull())
        .select(
            op.alias("__cnl_op"),
            es_ms.alias("__cnl_es_ms"),
            env_id.alias("__cnl_id"),
            e["database"].alias("__cnl_db"),
            e["table"].alias("__cnl_tbl"),
            F.posexplode(rows).alias("__cnl_idx", "__cnl_row"),
        )
    )
    # fail loudly on position overflow instead of colliding silently
    guarded_idx = F.when(
        F.col("__cnl_idx") < _BATCH_POS_WIDTH, F.col("__cnl_idx")
    ).otherwise(F.raise_error(F.lit("canal batch exceeds 1000 rows")))
    pos = F.col("__cnl_id") * _BATCH_POS_WIDTH + guarded_idx
    envelope = F.create_map(
        F.lit("__op"), F.col("__cnl_op"),
        F.lit("__ts_ns"), (F.col("__cnl_es_ms") * F.lit(1_000_000)).cast("string"),
        F.lit("__source_pos"), pos.cast("string"),
    )
    load_ts = (
        F.col(load_ts_col)
        if load_ts_col is not None
        else F.timestamp_millis(F.col("__cnl_es_ms"))
    )
    return gated.select(
        F.to_json(F.map_concat(F.col("__cnl_row"), envelope)).alias("data"),
        load_ts.alias("load_ts"),
        load_ts.alias("publish_time"),
        F.concat(
            F.lit("cnl-"), F.col("__cnl_id"), F.lit("-"), F.col("__cnl_idx")
        ).alias("message_id"),
        F.concat(F.col("__cnl_db"), F.lit("."), F.col("__cnl_tbl")).alias(
            "source_db_table"
        ),
        F.lit(source_name).alias("subscription_name"),
    )


#: Synthesizer batching: events group into envelopes of at most this many
#: rows (consecutive event_ids with the same op).
_SYNTH_BATCH = 4


def synthesize_canal_from_events(events: DataFrame) -> DataFrame:
    """events table → Canal-envelope JSON strings (test/bench feed).

    Mirrors the Debezium/Maxwell synthesizers' op mapping but exercises
    Canal's distinguishing shape: events with the same op inside an
    ``event_id div 4`` stripe pack into ONE envelope whose ``data`` array
    is event_id-ordered, ``es`` is the stripe's EARLIEST millisecond
    (every row inherits the statement commit time — their individual
    timestamps quantize away, which the oracle pins), and ``id`` is the
    stripe's lowest event_id. A DDL envelope and a TRUNCATE envelope
    bracket the feed to exercise the marker-drop gate."""
    from dataplatform_cdc_pipeline_spark.sources.cdc import op_expr
    from dataplatform_cdc_pipeline_spark.sources.tables import normalize_ntz

    events = normalize_ntz(events)
    op = op_expr()
    cnl_type = (
        F.when(op == "c", F.lit("INSERT"))
        .when(op == "u", F.lit("UPDATE"))
        .otherwise(F.lit("DELETE"))
    )
    image = F.struct(
        F.col("event_id"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("value"),
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    grouped = (
        events.select(
            (F.col("event_id") / _SYNTH_BATCH).cast("long").alias("__stripe"),
            cnl_type.alias("__type"),
            F.unix_millis(F.col("ts")).alias("__ts_ms"),
            F.col("event_id").alias("__eid"),
            image.alias("__img"),
        )
        .groupBy("__stripe", "__type")
        .agg(
            F.sort_array(F.collect_list(F.struct("__eid", "__img"))).alias("__rows"),
            F.min("__ts_ms").alias("__es"),
            F.min("__eid").alias("__id"),
        )
    )
    rows = grouped.select(
        F.to_json(
            F.struct(
                F.lit("demo").alias("database"),
                F.lit("events").alias("table"),
                F.col("__type").alias("type"),
                F.lit(False).alias("isDdl"),
                F.col("__es").alias("es"),
                F.col("__es").alias("ts"),
                F.col("__id").alias("id"),
                F.array(F.lit("user_id")).alias("pkNames"),
                F.transform("__rows", lambda r: r["__img"]).alias("data"),
            )
        ).alias("value")
    )
    markers = events.sparkSession.createDataFrame(
        [
            (
                '{"database":"demo","table":"events","type":"ALTER","isDdl":true,'
                '"es":0,"ts":0,"id":0,"sql":"ALTER TABLE events ADD COLUMN x INT"}',
            ),
            (
                '{"database":"demo","table":"events","type":"TRUNCATE","isDdl":false,'
                '"es":0,"ts":0,"id":0,"data":null}',
            ),
        ],
        "value string",
    )
    return rows.unionByName(markers)
