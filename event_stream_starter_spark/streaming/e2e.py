"""The integrated §3.1 pipeline as ONE Structured Streaming DAG
(reference: worker/tasks.py:104-140 — the tweet → dedup → upsert →
heat → rules → pushed-card chain; SURVEY §3.1).

Every stage reuses the already-certified pieces; this module only
CHAINS them:

    file source (S1)                       events_file_stream
      → C4 event key (map)                 pipeline.with_event_key
      → D1/D3 dedup (stateful)             dropDuplicatesWithinWatermark
      → foreachBatch sink:
          A1 keyed upsert                  KeyedParquetTable (composite
                                           key event_key,event_type)
          survivor-facts append            SurvivorFactsTable

and a READ side — ``read_cards`` — that derives the A3/W5 heat, rules
score, R9 routing and T7 outbox top-k from the two state tables via
``queries.pipeline_e2e.cards_from_state`` (the exact code the batch
``e2e_pipeline_trace`` runs), so streamed end-state equals the batch
trace whenever the stream saw the same events in event-time order.

Scale notes:
- The upsert table carries one row per entity key (bounded by key
  cardinality, the reference's ``events`` table) — at cluster scale the
  same merge laws drive MERGE INTO on a transactional format.
- The facts table is the deduped event log partitioned by micro-batch;
  heat only ever reads the trailing ``HEAT_HORIZON_US`` (20 minutes), so
  the sink calls ``gc()`` after every batch, dropping the batch dirs
  wholly older than that, and the table stays O(window), not O(history).
- A beat pays only for the data it carries: the query runs with no-data
  micro-batches off. Such a batch reads no input and only advances the
  watermark, yet the sink would still write an empty facts dir and
  rewrite the whole upsert snapshot for it. Nothing here waits on the
  watermark to emit, so the cards do not change; dedup state is evicted
  by the next data batch instead, and a restart may resume from a
  watermark one tick behind, which admits no duplicate (the argument is
  in ``start_integrated_pipeline``).
- Both sinks are idempotent per (key, batch_id) / per batch dir, so
  foreachBatch at-least-once redelivery leaves state unchanged (ST5) —
  asserted by tests/test_streaming.py.
"""

from __future__ import annotations

import os
import re
import shutil

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.pipeline_e2e import HEAT_HORIZON_US, cards_from_state
from .keyed_table import KeyedParquetTable
from .pipeline import deduped_stream, with_event_key
from .source import events_file_stream

UPSERT_KEYS = ["event_key", "event_type"]
FACTS_SCHEMA = "event_type string, ts_us bigint"
_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


class SurvivorFactsTable:
    """Append-only (event_type, ts_us) fact log, one parquet dir per
    micro-batch (``batch=<id>/``). Replaying a batch overwrites its own
    dir — idempotent under foreachBatch redelivery. ``gc`` enforces the
    heat horizon so the log is bounded by the window, not history."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    def append_batch(self, facts: DataFrame, batch_id: int) -> None:
        facts.write.mode("overwrite").parquet(
            os.path.join(self.path, f"batch={batch_id}")
        )

    def _dirs(self) -> list[str]:
        return [
            os.path.join(self.path, d)
            for d in os.listdir(self.path)
            if re.fullmatch(r"batch=\d+", d)
        ]

    def read(self) -> DataFrame | None:
        dirs = self._dirs()
        if not dirs:
            return None
        return self.spark.read.schema(FACTS_SCHEMA).parquet(*dirs)

    def gc(self) -> None:
        """Enforce the heat horizon: drop the batch dirs whose newest
        fact is older than (newest fact - ``HEAT_HORIZON_US``). Heat counts
        none of their rows, and the dir holding the newest fact always
        survives, so ``now_us`` and both heat counts are unchanged. Runs
        no Spark job: each dir's max ``ts_us`` comes from its parquet
        footers. (A real deployment uses time-partitioned retention on
        the table format.)"""
        newest = {d: _max_ts_us(d) for d in self._dirs()}
        known = [m for m in newest.values() if m is not None]
        if not known:
            return
        cutoff = max(known) - HEAT_HORIZON_US
        for d, mx in newest.items():
            if mx is None or mx < cutoff:
                shutil.rmtree(d, ignore_errors=True)


def _max_ts_us(batch_dir: str) -> int | None:
    """Largest ``ts_us`` in one batch dir, None if it holds no non-null
    value. Read from the row-group statistics in the parquet footers; a
    row group written without them is read itself."""
    out = None
    for name in os.listdir(batch_dir):
        if not name.endswith(".parquet"):
            continue
        f = pq.ParquetFile(os.path.join(batch_dir, name))
        col = f.schema_arrow.get_field_index("ts_us")
        for i in range(f.metadata.num_row_groups):
            st = f.metadata.row_group(i).column(col).statistics
            if st is not None and st.has_min_max:
                mx = st.max
            else:
                mx = pc.max(f.read_row_group(i, ["ts_us"])["ts_us"]).as_py()
            if mx is not None and (out is None or mx > out):
                out = mx
    return out


def integrated_sink(upsert: KeyedParquetTable, facts: SurvivorFactsTable):
    """foreachBatch writer chaining the two state sinks over the deduped
    survivor stream. Facts first, then upsert: a crash between the two
    re-delivers the batch, facts overwrite their own dir and the upsert
    batch-id guard drops the replay — both orders are safe, this one
    makes the facts visible no later than the card state they feed.

    After the upsert the facts log is collected past the heat horizon
    (``SurvivorFactsTable.gc``, no Spark job), so card reads scan only
    the dirs heat can count. The query runs without no-data micro-batches
    (``start_integrated_pipeline``), so every call carries input rows:
    an empty call would still write an empty facts dir and rewrite the
    whole upsert snapshot. A redelivered batch rewrites its own dir and
    gc drops nothing more, since the newest fact is unchanged."""

    def write(batch: DataFrame, batch_id: int) -> None:
        surv = batch.persist()
        try:
            facts.append_batch(
                surv.select("event_type", F.unix_micros("ts").alias("ts_us")),
                batch_id,
            )
            upsert.upsert_batch(surv, batch_id)
        finally:
            surv.unpersist()
        facts.gc()

    return write


def start_integrated_pipeline(
    spark: SparkSession,
    landing_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    max_files_per_trigger: int = 1,
):
    """Build + start the integrated DAG (availableNow, so a call drains
    the landing dir and terminates — restartable from the checkpoint).
    Returns (query, upsert_table, facts_table).

    The query runs with no-data micro-batches off: a tick commits only
    batches that read input, and a tick with nothing new commits none.
    The session flag is set only around ``start()`` and restored in a
    ``finally``: the query reads it from the session clone ``start()``
    takes, so restoring it at once cannot change what the query sees.

    The cards do not change: dedup emits a key's first arrival at once
    and the sink writes only survivors, so no result waits on the
    watermark. What moves is dedup state eviction, which now happens in
    the next data batch, and the watermark a restart resumes from, which
    can lag one tick behind what a trailing no-data batch would have
    checkpointed. That lag admits no duplicate: eviction and the
    late-row filter use the same watermark, and a dedup key lies inside
    one 10-minute bucket while the watermark delay (1 hour) is longer,
    so a row the watermark still admits finds its key's state held."""
    upsert = KeyedParquetTable(
        spark, os.path.join(state_dir, "upsert"), key_cols=UPSERT_KEYS
    )
    facts = SurvivorFactsTable(spark, os.path.join(state_dir, "facts"))
    src = events_file_stream(spark, landing_dir, max_files_per_trigger)
    # C4 key rename: the dedup key (user|type|600s-bucket) is the stream's
    # dedup identity; the UPSERT key (user|type) is derived in the sink's
    # aggregate via the carried user_id/event_type columns.
    survivors = deduped_stream(with_event_key(src), watermark)
    # A1 upsert key (C5-shape): same expression as the batch trace.
    from ..functions.hashing import key_concat

    survivors = survivors.drop("event_key").withColumn(
        "event_key",
        F.substring(
            F.sha2(key_concat(F.col("user_id").cast("string"), F.col("event_type")), 256),
            1,
            40,
        ),
    )
    prev = spark.conf.get(_NO_DATA_BATCHES, None)
    spark.conf.set(_NO_DATA_BATCHES, "false")
    try:
        q = (
            survivors.writeStream.foreachBatch(integrated_sink(upsert, facts))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        if prev is None:
            spark.conf.unset(_NO_DATA_BATCHES)
        else:
            spark.conf.set(_NO_DATA_BATCHES, prev)
    return q, upsert, facts


def read_cards(upsert: KeyedParquetTable, facts: SurvivorFactsTable) -> DataFrame | None:
    """Card read side: adapt the two state tables to the shapes
    ``cards_from_state`` expects and run the exact batch tail."""
    state = upsert.read()
    fact_df = facts.read()
    if state is None or fact_df is None:
        return None
    adapted = state.select(
        "event_key",
        "event_type",
        F.unix_micros("start_ts").alias("start_ts_us"),
        F.unix_micros("last_ts").alias("last_ts_us"),
        "evidence_count",
        "last_value",
    )
    return cards_from_state(adapted, fact_df)
