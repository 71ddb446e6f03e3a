"""Tests for the deterministic NL→SQL template matcher (offline
fallback in front of the injectable LLM client)."""

from __future__ import annotations

import datetime as dt

import pytest

from etl_energy_tracker_spark.read.nl2sql import NLQueryGenerator
from etl_energy_tracker_spark.read.nl_templates import match_template


def test_spanish_price_range():
    sql = match_template(
        "precios del mercado Diario entre 2024-03-01 y 2024-03-03"
    )
    assert sql is not None
    assert "FROM precios" in sql
    assert "id_mercado = 1" in sql
    assert "2024-03-01" in sql and "2024-03-03" in sql


def test_english_daily_average_volume():
    sql = match_template(
        "average daily volume for Intra 2 between 2024-01-01 and 2024-01-31"
    )
    assert sql is not None
    assert "FROM volumenes_i90" in sql
    assert "id_mercado = 3" in sql
    assert "GROUP BY CAST(datetime_utc AS DATE)" in sql
    assert "AVG(volumenes)" in sql


def test_latest_day_and_diacritics():
    sql = match_template("precio medio de Diario del último día")
    assert sql is not None
    assert "MAX(CAST(datetime_utc" in sql
    assert "AVG(precio)" in sql


def test_longest_market_name_wins():
    # 'Intra 1' must not be shadowed by any shorter overlapping name
    sql = match_template("precios de Intra 1 el 2024-06-01")
    assert sql is not None
    assert "id_mercado = 2" in sql


def test_unmatched_returns_none():
    assert match_template("how many orders shipped by rail?") is None
    assert match_template("precios sin mercado reconocible") is None


def test_generator_uses_template_before_llm(spark):
    def llm_must_not_be_called(prompt):  # pragma: no cover
        raise AssertionError("LLM called for a template-matched question")

    gen = NLQueryGenerator(spark, llm=llm_must_not_be_called)
    sql = gen.generate_sql("precios de Diario el 2024-03-01")
    assert sql.startswith("SELECT")


def test_generator_still_raises_without_llm_on_unmatched(spark):
    with pytest.raises(NotImplementedError):
        NLQueryGenerator(spark).generate_sql("no llm configured")


def test_template_sql_executes_on_lake_view(spark):
    rows = [
        (dt.datetime(2024, 3, 1, 10, 0), 1, 50.0),
        (dt.datetime(2024, 3, 1, 10, 15), 1, 70.0),
        (dt.datetime(2024, 3, 2, 10, 0), 1, 99.0),
        (dt.datetime(2024, 3, 1, 10, 0), 2, 10.0),
    ]
    spark.createDataFrame(
        rows, "datetime_utc timestamp, id_mercado int, precio double"
    ).createOrReplaceTempView("precios")
    gen = NLQueryGenerator(spark)
    out = gen.execute_query("precio medio de Diario el 2024-03-01").collect()
    assert len(out) == 1
    assert out[0].avg_precio == 60.0
    latest = gen.execute_query(
        "precio medio de Diario del último día"
    ).collect()
    assert latest[0].avg_precio == 99.0


def test_total_by_market_template():
    from etl_energy_tracker_spark.read.nl_templates import match_template

    sql = match_template(
        "suma de volumenes por mercado entre 2024-01-01 y 2024-01-31"
    )
    assert sql is not None
    assert "GROUP BY id_mercado" in sql
    assert "SUM(volumenes)" in sql
    assert "id_mercado =" not in sql  # breakdown: no market filter
    assert "2024-01-01" in sql and "2024-01-31" in sql
    # English phrasing, price table, no date clause
    sql2 = match_template("total price by market")
    assert sql2 is not None and "precios" in sql2 and "WHERE 1 = 1" in sql2
    # a named market is honored as a filter even in breakdown form
    sql3 = match_template("total volumen by market of Diario")
    assert sql3 is not None and "id_mercado = 1" in sql3


def test_total_by_market_latest_day(spark):
    # ADVICE r8: market=None + 'latest day' interpolated market.id and
    # crashed with AttributeError; latest day must scope globally here
    sql = match_template("total price by market latest day")
    assert sql is not None
    assert "GROUP BY id_mercado" in sql
    assert "MAX(CAST(datetime_utc" in sql
    assert "id_mercado =" not in sql.split("GROUP BY")[0].split("(SELECT")[0]
    import datetime as dt

    rows = [
        (dt.datetime(2024, 3, 1, 10, 0), 1, 50.0),
        (dt.datetime(2024, 3, 2, 10, 0), 1, 99.0),
        (dt.datetime(2024, 3, 2, 11, 0), 2, 10.0),
        (dt.datetime(2024, 3, 1, 10, 0), 2, 777.0),  # not latest day
    ]
    spark.createDataFrame(
        rows, "datetime_utc timestamp, id_mercado int, precio double"
    ).createOrReplaceTempView("precios")
    from etl_energy_tracker_spark.read.nl2sql import NLQueryGenerator

    out = NLQueryGenerator(spark).execute_query(
        "total price by market latest day"
    ).collect()
    assert [(r.id_mercado, r.total_precio) for r in out] == [(1, 99.0), (2, 10.0)]


def test_rolling_average_branch():
    sql = match_template(
        "rolling 24h average price of Diario between 2024-01-05 and "
        "2024-01-12"
    )
    assert sql is not None
    assert "ROWS BETWEEN 24 PRECEDING AND CURRENT ROW" in sql
    assert "PARTITION BY id_mercado" in sql
    assert "id_mercado = 1" in sql
    # Spanish phrasing reaches the same branch
    sql_es = match_template("media movil del precio de Diario ultimo dia")
    assert sql_es is not None and "24 PRECEDING" in sql_es


def test_rolling_without_market_unmatched():
    # a rolling window needs one market's ordered series; without a
    # recognizable market the template must decline (LLM fallback)
    assert match_template("rolling average price last week") is None


def test_topk_markets_branch():
    sql = match_template(
        "top 3 markets by volume between 2024-01-01 and 2024-01-31"
    )
    assert sql is not None
    assert "LIMIT 3" in sql
    assert "ORDER BY total_volumenes DESC, id_mercado" in sql
    assert "FROM volumenes_i90" in sql
    # Spanish + price metric + parsed k
    sql_es = match_template("top 5 mercados por precio")
    assert sql_es is not None
    assert "LIMIT 5" in sql_es and "FROM precios" in sql_es


def test_rolling_average_ties_match_duckdb(spark):
    # precios can hold several prices at one instant (its dedup key is
    # datetime_utc, id_mercado, precio), so the rolling frame must not
    # depend on how Spark or DuckDB happen to order tied rows
    import duckdb
    import pandas as pd

    t0 = dt.datetime(2024, 3, 1)
    rows = [
        (t0 + dt.timedelta(minutes=15 * (i // 3)), 1, float((i * 37) % 101))
        for i in range(120)
    ]
    sql = match_template("rolling 24h average price of Diario el 2024-03-01")
    assert sql is not None and "ORDER BY datetime_utc, precio" in sql
    con = duckdb.connect()
    con.register(
        "precios",
        pd.DataFrame(rows[::-1], columns=["datetime_utc", "id_mercado", "precio"]),
    )
    want = sorted(con.sql(sql).fetchall())
    assert len(want) == 120
    df = spark.createDataFrame(
        rows, "datetime_utc timestamp, id_mercado int, precio double"
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in (1, 3, 8):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            df.repartition(n).createOrReplaceTempView("precios")
            got = [tuple(r) for r in spark.sql(sql).collect()]
            assert sorted(got) == want, n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
