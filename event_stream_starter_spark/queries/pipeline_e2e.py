"""The §3.1 dataflow as ONE composed query: ingest → C4 key + D1 dedup →
A1 keyed upsert → A3/W5 heat join → rules scoring → R9 routing → T7
outbox ordering. Every stage is the already-oracle-checked column logic;
this query certifies the COMPOSITION end-to-end (reference trace:
SURVEY §3.1, worker pipeline tweet → pushed card).

Plan shape at scale: one shuffle for the dedup key, one for the upsert
key, heat is a broadcast (|event_type| rows), scoring/routing are
map-side, and the outbox top-k is TakeOrderedAndProject — no global
sort materializes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import key_concat, ts_bucket
from ..io import load_table
from ..operators.dedup import exact_dedup
from ..operators.windows import slope_trend
from . import query

_TOP_K = 100
# Heat reads two trailing 10-minute windows (cnt_10m, prev_10m) back from
# the newest fact, so no fact older than HEAT_HORIZON_US ever counts; the
# streaming facts log is collected past the same horizon.
HEAT_WINDOW_US = 600_000_000
HEAT_HORIZON_US = 2 * HEAT_WINDOW_US


def cards_from_state(upsert: DataFrame, facts: DataFrame, top_k: int = _TOP_K) -> DataFrame:
    """The pipeline tail — A3/W5 heat ⋈ state → rules score → R9 routing
    → T7 outbox top-k — as a pure function of the two state tables:

    - ``upsert``: A1 keyed state, one row per (event_key, event_type)
      with start_ts_us/last_ts_us/evidence_count/last_value (the shape
      ``streaming.keyed_table`` maintains incrementally);
    - ``facts``: survivor timestamps (event_type, ts_us) — the deduped
      event log the trailing heat windows are computed over. It may be
      collected past ``HEAT_HORIZON_US``: heat never reads older facts,
      and a type whose facts are all gone still carries its cards with
      zero heat.

    Shared by the batch ``e2e_pipeline_trace`` query and the integrated
    streaming slice (streaming/e2e.py), so stream-vs-batch parity of the
    tail holds by construction and the test certifies the STATE the
    streaming stages produced."""
    now_t = facts.agg(F.max("ts_us").alias("now_us"))
    s = facts.crossJoin(F.broadcast(now_t))
    heat = s.groupBy("event_type").agg(
        F.sum(
            F.when(F.col("ts_us") > F.col("now_us") - HEAT_WINDOW_US, 1).otherwise(0)
        ).alias("cnt_10m"),
        F.sum(
            F.when(
                (F.col("ts_us") > F.col("now_us") - HEAT_HORIZON_US)
                & (F.col("ts_us") <= F.col("now_us") - HEAT_WINDOW_US),
                1,
            ).otherwise(0)
        ).alias("prev_10m"),
    )

    card = upsert.join(F.broadcast(heat), "event_type", "left").fillna(
        0, ["cnt_10m", "prev_10m"]
    )
    # Integer centi-point score — exact in both engines; the slope gate
    # slope <= -0.2 is the integer fact cnt_10m - prev_10m <= -2
    # (inclusive, matching the reference's trend thresholds).
    score = (
        F.col("evidence_count") * F.lit(50)
        + F.col("cnt_10m")
        + F.when(F.col("last_value") > 50, F.lit(500)).otherwise(F.lit(0))
        + F.when(F.col("cnt_10m") - F.col("prev_10m") <= -2, F.lit(-300)).otherwise(
            F.lit(0)
        )
    )
    level = (
        F.when(score >= 1200, "opportunity")
        .when(score <= 200, "caution")
        .otherwise("observe")
    )
    card_type = (
        F.when((level == "opportunity") & (F.col("evidence_count") >= 10), "primary")
        .when(level == "opportunity", "secondary")
        .when(level == "caution", "market_risk")
        .otherwise("topic")
    )
    priority = (
        F.when(level == "opportunity", 0).when(level == "observe", 1).otherwise(2)
    )
    routed = card.select(
        "event_key",
        "event_type",
        "evidence_count",
        "last_ts_us",
        F.round("last_value", 6).alias("last_value"),
        score.cast("bigint").alias("score_centi"),
        level.alias("level"),
        card_type.alias("card_type"),
        priority.alias("priority"),
    )
    # T7 outbox top-k: orderBy+limit plans TakeOrderedAndProject (no
    # global sort); rank re-derived over the k survivors only.
    top = routed.orderBy(
        F.col("priority").asc(), F.col("last_ts_us").desc(), F.col("event_key").asc()
    ).limit(top_k)
    w = Window.orderBy(
        F.col("priority").asc(), F.col("last_ts_us").desc(), F.col("event_key").asc()
    )
    return top.withColumn("outbox_rank", F.row_number().over(w).cast("long")).drop(
        "priority"
    )


@query(
    "e2e_pipeline_trace",
    f"""
    WITH keyed AS (
        SELECT event_id, user_id, event_type, value,
               CAST(epoch_us(ts) AS BIGINT) AS ts_us,
               substring(sha256(CAST(user_id AS VARCHAR) || '|' || event_type || '|' ||
                         CAST(CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS VARCHAR)), 1, 40)
                   AS dedup_key
        FROM events
    ), survivors AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY dedup_key
                                         ORDER BY ts_us ASC, event_id ASC) AS rn
            FROM keyed
        ) WHERE rn = 1
    ), upsert AS (
        SELECT substring(sha256(CAST(user_id AS VARCHAR) || '|' || event_type), 1, 40)
                   AS event_key,
               event_type,
               MIN(ts_us) AS start_ts_us,
               MAX(ts_us) AS last_ts_us,
               COUNT(*) AS evidence_count,
               (max(struct_pack(t := ts_us, v := value))).v AS last_value
        FROM survivors
        GROUP BY 1, 2
    ), now_t AS (SELECT MAX(ts_us) AS now_us FROM survivors),
    heat AS (
        SELECT s.event_type,
               SUM(CASE WHEN s.ts_us > n.now_us - 600000000 THEN 1 ELSE 0 END) AS cnt_10m,
               SUM(CASE WHEN s.ts_us > n.now_us - 1200000000
                         AND s.ts_us <= n.now_us - 600000000 THEN 1 ELSE 0 END) AS prev_10m
        FROM survivors s CROSS JOIN now_t n
        GROUP BY s.event_type
    ), card AS (
        SELECT u.*, h.cnt_10m, h.prev_10m
        FROM upsert u JOIN heat h ON u.event_type = h.event_type
    ), scored AS (
        -- integer centi-point score: exact in every engine, no float
        -- threshold straddling (slope <= -0.2 <=> cnt_10m - prev_10m <= -2,
        -- inclusive like the reference's trend gate)
        SELECT *,
               evidence_count * 50 + cnt_10m
                 + CASE WHEN last_value > 50 THEN 500 ELSE 0 END
                 + CASE WHEN cnt_10m - prev_10m <= -2 THEN -300 ELSE 0 END
                   AS score_centi
        FROM card
    ), leveled AS (
        SELECT *,
               CASE WHEN score_centi >= 1200 THEN 'opportunity'
                    WHEN score_centi <= 200 THEN 'caution'
                    ELSE 'observe' END AS level
        FROM scored
    ), routed AS (
        SELECT *,
               CASE WHEN level = 'opportunity' AND evidence_count >= 10 THEN 'primary'
                    WHEN level = 'opportunity' THEN 'secondary'
                    WHEN level = 'caution' THEN 'market_risk'
                    ELSE 'topic' END AS card_type,
               CASE level WHEN 'opportunity' THEN 0
                          WHEN 'observe' THEN 1 ELSE 2 END AS priority
        FROM leveled
    )
    SELECT event_key, event_type, evidence_count, last_ts_us,
           ROUND(last_value, 6) AS last_value,
           CAST(score_centi AS BIGINT) AS score_centi, level, card_type,
           ROW_NUMBER() OVER (ORDER BY priority ASC, last_ts_us DESC, event_key ASC)
               AS outbox_rank
    FROM routed
    ORDER BY priority ASC, last_ts_us DESC, event_key ASC
    LIMIT {_TOP_K}
    """,
    survey_ids="§3.1 full pipeline trace: C4+D1 → A1 → A3/W5 → rules score → R9 routing → T7 outbox top-k",
)
def e2e_pipeline_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dedup_key = F.substring(
        F.sha2(
            key_concat(
                F.col("user_id").cast("string"),
                F.col("event_type"),
                ts_bucket(F.col("ts")).cast("string"),
            ),
            256,
        ),
        1,
        40,
    )
    keyed = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("ts_us"),
        dedup_key.alias("dedup_key"),
    )
    keyed = keyed.filter(F.col("dedup_key").isNotNull())  # NULL-key quarantine
    survivors = exact_dedup(keyed, ["dedup_key"], "ts_us", tiebreak=["event_id"])

    upsert_key = F.substring(
        F.sha2(
            key_concat(F.col("user_id").cast("string"), F.col("event_type")), 256
        ),
        1,
        40,
    )
    upsert = survivors.groupBy(
        upsert_key.alias("event_key"), F.col("event_type")
    ).agg(
        F.min("ts_us").alias("start_ts_us"),
        F.max("ts_us").alias("last_ts_us"),
        F.count(F.lit(1)).alias("evidence_count"),
        F.max(F.struct(F.col("ts_us").alias("t"), F.col("value").alias("v")))[
            "v"
        ].alias("last_value"),
    )

    return cards_from_state(upsert, survivors.select("event_type", "ts_us"))


# slope_trend imported for parity with flagship; not used directly here.
_ = slope_trend
