"""NL→SQL surface queries (J10) — executable, oracle-checked.

The reference's natural-language query path is a live LLM call that
emits DuckDB SQL over the lake parquet
(`read/natlanguage_duckdb_queries.py:340-398`, join rules
`:259-275`). This engine's surface (`read/nl2sql.py`) is the same
shape with two differences: a deterministic offline template matcher
answers the common question forms without any network, and every
statement — templated or LLM-produced — passes the read-only-SELECT
safety gate before execution.

Until round 8 that surface only had structural pytest coverage; these
catalog entries give it hash-gated driver rows (VERDICT r7 task 8):
each query synthesizes the lake's ``precios`` / ``volumenes_i90``
schema deterministically from the events table, drives a question
through the REAL ``NL2SQL`` path (template matcher or injected LLM +
postprocess gate), and the oracle replays the same semantics in
DuckDB dialect.

Float determinism: per-row values are snapped to exact binary
quarters (``round(value*4)/4``) and the view-level aggregate is a
SUM — sums of exact quarters are exact in IEEE double at any
summation order, so both engines hand the template's ``ROUND(AVG(…),
2)`` bit-identical inputs and the hash comparison is safe without
decimal plumbing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.registry import load_table
from .catalog import register

# quarter-hour floor + exact-quarter value snap, shared by both views
_Q_DUCK = """
    SELECT TIMESTAMP '1970-01-01' + to_seconds(
               CAST(floor(epoch(ts) / 900) * 900 AS BIGINT)) AS datetime_utc,
           event_type,
           round(value * 4) / 4 AS qval
    FROM events
"""


def _nl_views(spark: SparkSession, sf_dir: str) -> None:
    """Register ``precios`` and ``volumenes_i90`` temp views with the
    lake reader's schema, synthesized deterministically from events
    (click/view → price markets 1/2; purchase/signup → volume markets
    1/2). Mirrors the parity-query construction idiom
    (``precios_hourly_read_e2e``)."""
    ev = load_table(spark, "events", sf_dir).select(
        F.timestamp_seconds(
            (F.unix_timestamp("ts") / 900).cast("long") * 900
        ).alias("datetime_utc"),
        "event_type",
        (F.round(F.col("value") * 4) / 4).alias("qval"),
    )
    price_id = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "view", 2)
    )
    vol_id = (
        F.when(F.col("event_type") == "purchase", 1)
        .when(F.col("event_type") == "signup", 2)
    )
    (
        ev.select("datetime_utc", price_id.alias("id_mercado"), "qval")
        .where(F.col("id_mercado").isNotNull())
        .groupBy("datetime_utc", "id_mercado")
        .agg(F.sum("qval").alias("precio"))
        .createOrReplaceTempView("precios")
    )
    (
        ev.select("datetime_utc", vol_id.alias("id_mercado"), "qval")
        .where(F.col("id_mercado").isNotNull())
        .groupBy("datetime_utc", "id_mercado")
        .agg(F.sum("qval").alias("volumenes"))
        .createOrReplaceTempView("volumenes_i90")
    )


_DUCK_PRECIOS = f"""
    precios AS (
        SELECT datetime_utc,
               CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2 END
                   AS id_mercado,
               SUM(qval) AS precio
        FROM ({_Q_DUCK}) q
        WHERE event_type IN ('click', 'view')
        GROUP BY datetime_utc, 2
    )
"""

_DUCK_VOLUMENES = f"""
    volumenes_i90 AS (
        SELECT datetime_utc,
               CASE event_type WHEN 'purchase' THEN 1 WHEN 'signup' THEN 2 END
                   AS id_mercado,
               SUM(qval) AS volumenes
        FROM ({_Q_DUCK}) q
        WHERE event_type IN ('purchase', 'signup')
        GROUP BY datetime_utc, 2
    )
"""


@register(
    "nl_avg_daily_price",
    oracle=f"""
    WITH {_DUCK_PRECIOS}
    SELECT CAST(datetime_utc AS DATE) AS dia,
           ROUND(AVG(precio), 2) AS avg_precio
    FROM precios
    WHERE id_mercado = 1
      AND datetime_utc >= TIMESTAMP '2024-01-05 00:00:00'
      AND datetime_utc < TIMESTAMP '2024-01-20 00:00:00' + INTERVAL 1 DAY
    GROUP BY CAST(datetime_utc AS DATE)
    ORDER BY dia
    """,
    tags=("nl", "read", "aggregate"),
    doc="NL→SQL template path end-to-end: the question 'average daily "
    "price of Diario between 2024-01-05 and 2024-01-20' goes through "
    "read/nl2sql.NLQueryGenerator — offline template match (nl_templates.py "
    "grammar: metric, market-name→id resolution against the 28-market "
    "config, date-window clause), read-only postprocess gate, "
    "spark.sql execution over the registered lake views. Ref parity: "
    "natlanguage_duckdb_queries.py:340-398 (LLM emits SQL over the "
    "same precios schema); the template matcher is this engine's "
    "deterministic offline fallback for exactly these question "
    "shapes. Scale: the produced plan is a filtered scan + one "
    "grouped aggregate — identical to hand-written SQL; NL adds "
    "driver-side parsing only.",
)
def nl_avg_daily_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..read.nl2sql import NLQueryGenerator

    _nl_views(spark, sf_dir)
    return NLQueryGenerator(spark).execute_query(
        "average daily price of Diario between 2024-01-05 and 2024-01-20"
    )


@register(
    "nl_avg_volume_latest_day",
    oracle=f"""
    WITH {_DUCK_VOLUMENES}
    SELECT ROUND(AVG(volumenes), 2) AS avg_volumenes
    FROM volumenes_i90
    WHERE id_mercado = 2
      AND CAST(datetime_utc AS DATE) = (
          SELECT MAX(CAST(datetime_utc AS DATE)) FROM volumenes_i90
          WHERE id_mercado = 2)
    """,
    tags=("nl", "read", "aggregate"),
    doc="NL→SQL template path, latest-day form (Spanish phrasing): "
    "'volumen medio de Intra 1 ultimo dia' — exercises the "
    "diacritic-folding matcher, the volume-table routing, and the "
    "latest-day scalar-subquery clause of the template grammar "
    "(nl_templates.py). Ref parity: the reference's most common "
    "analyst question shape (natlanguage_duckdb_queries.py examples); "
    "the latest-day subquery is a 1-row broadcast at any scale.",
)
def nl_avg_volume_latest_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..read.nl2sql import NLQueryGenerator

    _nl_views(spark, sf_dir)
    return NLQueryGenerator(spark).execute_query("volumen medio de Intra 1 ultimo dia")


# the canonical price⋈volume join the reference's system prompt
# teaches its LLM to emit (natlanguage_duckdb_queries.py:259-275:
# CTE-filtered windows joined on datetime_utc + id_mercado) — injected
# here as a canned LLM response so the LLM ROUTE (prompt build, fence
# stripping, read-only gate) is the code under test, with no network.
_JOIN_SQL = """```sql
WITH price_data AS (
    SELECT * FROM precios
    WHERE datetime_utc >= TIMESTAMP '2024-01-05 00:00:00'
      AND datetime_utc < TIMESTAMP '2024-01-12 00:00:00'
),
volume_data AS (
    SELECT * FROM volumenes_i90
    WHERE datetime_utc >= TIMESTAMP '2024-01-05 00:00:00'
      AND datetime_utc < TIMESTAMP '2024-01-12 00:00:00'
)
SELECT p.datetime_utc AS datetime_utc,
       p.id_mercado AS id_mercado,
       p.precio AS precio,
       v.volumenes AS volumen
FROM price_data p
JOIN volume_data v
  ON p.datetime_utc = v.datetime_utc AND p.id_mercado = v.id_mercado
```"""


@register(
    "nl_price_volume_join",
    oracle=f"""
    WITH {_DUCK_PRECIOS},
    {_DUCK_VOLUMENES},
    price_data AS (
        SELECT * FROM precios
        WHERE datetime_utc >= TIMESTAMP '2024-01-05 00:00:00'
          AND datetime_utc < TIMESTAMP '2024-01-12 00:00:00'
    ),
    volume_data AS (
        SELECT * FROM volumenes_i90
        WHERE datetime_utc >= TIMESTAMP '2024-01-05 00:00:00'
          AND datetime_utc < TIMESTAMP '2024-01-12 00:00:00'
    )
    SELECT p.datetime_utc AS datetime_utc,
           p.id_mercado AS id_mercado,
           p.precio AS precio,
           v.volumenes AS volumen
    FROM price_data p
    JOIN volume_data v
      ON p.datetime_utc = v.datetime_utc AND p.id_mercado = v.id_mercado
    """,
    tags=("nl", "read", "join"),
    doc="NL→SQL injected-LLM route end-to-end: a price⋈volume question "
    "goes to NLQueryGenerator with an injected client that returns the "
    "reference system prompt's canonical join pattern "
    "(natlanguage_duckdb_queries.py:259-275 — CTE-filtered date "
    "windows joined on datetime_utc + id_mercado) wrapped in a "
    "markdown fence; the path under test is prompt assembly, fence "
    "stripping, the read-only SELECT gate, and execution. The oracle "
    "replays the identical join in DuckDB. Scale: both CTEs are "
    "partition-pruned scans; the join keys are the lake's partition "
    "columns, so at 100 TB this plans as a co-partitioned join after "
    "pruning.",
)
def nl_price_volume_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..read.nl2sql import NLQueryGenerator

    _nl_views(spark, sf_dir)
    nl = NLQueryGenerator(spark, llm=lambda prompt: _JOIN_SQL)
    return nl.execute_query(
        "hourly prices joined with volumes per market for the week of "
        "2024-01-05"
    )


@register(
    "nl_total_volume_by_market",
    oracle=f"""
    WITH {_DUCK_VOLUMENES}
    SELECT id_mercado, ROUND(SUM(volumenes), 2) AS total_volumenes
    FROM volumenes_i90
    WHERE datetime_utc >= TIMESTAMP '2024-01-01 00:00:00'
      AND datetime_utc < TIMESTAMP '2024-01-31 00:00:00' + INTERVAL 1 DAY
    GROUP BY id_mercado ORDER BY id_mercado
    """,
    tags=("nl", "read", "aggregate"),
    doc="NL→SQL template path, all-market breakdown form: 'suma de "
    "volumenes por mercado entre 2024-01-01 y 2024-01-31' — the "
    "grammar's total/by-market branch (r8 extension): no market-name "
    "filter is required, the GROUP BY covers every market in the "
    "window. Same safety gate and execution path as the other NL "
    "rows. Scale: a pruned scan + one grouped aggregate.",
)
def nl_total_volume_by_market(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..read.nl2sql import NLQueryGenerator

    _nl_views(spark, sf_dir)
    return NLQueryGenerator(spark).execute_query(
        "suma de volumenes por mercado entre 2024-01-01 y 2024-01-31"
    )


@register(
    "nl_rolling_avg_price_24",
    oracle=f"""
    WITH {_DUCK_PRECIOS}
    SELECT datetime_utc, precio,
           ROUND(AVG(precio) OVER (PARTITION BY id_mercado
               ORDER BY datetime_utc, precio
               ROWS BETWEEN 24 PRECEDING AND CURRENT ROW), 2)
               AS rolling_avg_24h
    FROM precios
    WHERE id_mercado = 1
      AND datetime_utc >= TIMESTAMP '2024-01-05 00:00:00'
      AND datetime_utc < TIMESTAMP '2024-01-12 00:00:00' + INTERVAL 1 DAY
    ORDER BY datetime_utc, precio
    """,
    tags=("nl", "read", "window"),
    doc="NL→SQL template path, rolling-window form (VERDICT r11 task "
    "6): 'rolling 24h average price of Diario between 2024-01-05 and "
    "2024-01-12' matches the grammar's new rolling branch, which "
    "emits the reference system prompt's OWN optimization example — "
    "AVG(precio) OVER (ORDER BY datetime_utc ROWS BETWEEN 24 "
    "PRECEDING AND CURRENT ROW) (natlanguage_duckdb_queries.py:"
    "246-252: 'window functions for running calculations instead of "
    "self-joins') — partitioned by id_mercado so the sort shuffles on "
    "the market key instead of collapsing to one global partition. "
    "The window orders by (datetime_utc, precio): a lake market can "
    "hold several prices at one instant, and tied rows then carry "
    "equal values, so the frame is deterministic. Scale: pruned scan "
    "+ one hash-partitioned window sort.",
)
def nl_rolling_avg_price_24(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..read.nl2sql import NLQueryGenerator

    _nl_views(spark, sf_dir)
    return NLQueryGenerator(spark).execute_query(
        "rolling 24h average price of Diario between 2024-01-05 and "
        "2024-01-12"
    )


@register(
    "nl_top_markets_by_volume",
    oracle=f"""
    WITH {_DUCK_VOLUMENES}
    SELECT id_mercado, ROUND(SUM(volumenes), 2) AS total_volumenes
    FROM volumenes_i90
    WHERE datetime_utc >= TIMESTAMP '2024-01-01 00:00:00'
      AND datetime_utc < TIMESTAMP '2024-01-31 00:00:00' + INTERVAL 1 DAY
    GROUP BY id_mercado
    ORDER BY total_volumenes DESC, id_mercado LIMIT 3
    """,
    tags=("nl", "read", "aggregate"),
    doc="NL→SQL template path, top-k ranking form (VERDICT r11 task "
    "6): 'top 3 markets by volume between 2024-01-01 and 2024-01-31' "
    "— the grammar's _TOPK branch parses k from the question, groups "
    "over every market in the window, and ranks by the metric with a "
    "deterministic id_mercado tie-break. Same read-only safety gate "
    "and execution path as the other NL rows. Scale: a pruned scan, "
    "one grouped aggregate, and a k-row TakeOrdered — no full sort "
    "materializes.",
)
def nl_top_markets_by_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..read.nl2sql import NLQueryGenerator

    _nl_views(spark, sf_dir)
    return NLQueryGenerator(spark).execute_query(
        "top 3 markets by volume between 2024-01-01 and 2024-01-31"
    )
