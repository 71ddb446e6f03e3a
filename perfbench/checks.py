"""Output checks, made with DuckDB outside every timed region.

- ``daily_ingest``: the lake's row counts are recomputed from the raw
  files, independently of the Spark pipelines, and no dedup key may
  repeat;
- ``lake_reads``: each read's rows equal DuckDB's answer over the same
  lake parquet files, read with ``hive_partitioning``;
- ``catalog_mix``: each query's rows equal its registered DuckDB oracle
  under the comparison ``tools/check_correctness.py`` makes.
"""

from __future__ import annotations

import importlib.util
import math
import os

import duckdb

import inputs


def lake_scan(base: str, dataset: str) -> str:
    path = os.path.join(base, "processed", dataset, "**", "*.parquet")
    return f"read_parquet('{path}', hive_partitioning = true)"


def count_rows(con, base: str, dataset: str) -> int:
    return con.sql(f"SELECT count(*) FROM {lake_scan(base, dataset)}").fetchone()[0]


def duplicate_keys(con, base: str, dataset: str, keys: list[str]) -> int:
    k = ", ".join(keys)
    return con.sql(
        f"SELECT count(*) FROM (SELECT {k} FROM {lake_scan(base, dataset)} "
        f"GROUP BY {k} HAVING count(*) > 1)"
    ).fetchone()[0]


def _date_list(days) -> str:
    return ", ".join(f"DATE '{inputs.day(d).isoformat()}'" for d in sorted(days))


def expected_precios(con, base: str, utc_days, indicator_to_market: dict[int, int],
                     geo_indicators, geo_allowed) -> int:
    """Distinct (15-min instant, market, price) keys the ESIOS job must
    land for the given UTC dates: geo filter on the geo-scoped
    indicators, indicator → market map, hourly rows ×4."""
    raw = os.path.join(os.path.dirname(inputs.esios_path(base, 1)), "*.parquet")
    mapping = ", ".join(f"({i}, {m})" for i, m in indicator_to_market.items())
    geo_ind = ", ".join(str(i) for i in geo_indicators)
    geo_ok = ", ".join(f"'{g}'" for g in geo_allowed)
    return con.sql(f"""
        WITH r AS (
            SELECT CAST(datetime_utc AS TIMESTAMP) AS ts, value,
                   CAST(indicador_id AS INT) AS ind, geo_name, granularidad
            FROM read_parquet('{raw}')
            WHERE CAST(CAST(datetime_utc AS TIMESTAMP) AS DATE) IN ({_date_list(utc_days)})
        ),
        m(ind, id_mercado) AS (VALUES {mapping}),
        x AS (
            SELECT ts, id_mercado, CAST(round(value, 2) AS FLOAT) AS precio,
                   unnest(CASE WHEN granularidad = 'Hora' THEN [0, 15, 30, 45]
                               ELSE [0] END) AS off
            FROM r JOIN m USING (ind)
            WHERE ind NOT IN ({geo_ind}) OR geo_name IN ({geo_ok})
        )
        SELECT count(*) FROM (SELECT DISTINCT ts + to_minutes(off), id_mercado, precio FROM x)
    """).fetchone()[0]


def expected_omie(con, base: str, local_days) -> int:
    """(unit, 15-min instant, session) groups the OMIE job must land for
    the given local dates: matched ('C') rows only, each hour ×4."""
    raw = os.path.join(os.path.dirname(inputs.omie_dir(base, 1)), "2*", "*.csv")
    return con.sql(f"""
        SELECT 4 * count(*) FROM (
            SELECT DISTINCT Unidad, Fecha, Hora, regexp_extract(filename, '\\.(\\d+)\\.csv$', 1)
            FROM read_csv('{raw}', delim = ';', header = true, all_varchar = true,
                          filename = true)
            WHERE "Ofertada (O)/Casada (C)" = 'C'
              AND CAST(Fecha AS DATE) IN ({_date_list(local_days)})
        )
    """).fetchone()[0]


# ------------------------------------------------------------ lake reads


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _sort_key(row: tuple) -> tuple:
    return tuple((v is None, str(v) if not isinstance(v, float) else round(v, 6)) for v in row)


def rows_equal(got: list[tuple], want: list[tuple]) -> bool:
    """Order-insensitive row-set equality, floats within 1e-9."""
    if len(got) != len(want):
        return False
    got, want = sorted(got, key=_sort_key), sorted(want, key=_sort_key)
    return all(
        len(g) == len(w) and all(_close(a, b) for a, b in zip(g, w))
        for g, w in zip(got, want)
    )


def lake_views(con, base: str, datasets) -> None:
    """The lake as DuckDB views named like the Spark temp views
    ``register_lake_tables`` creates (without the arrival stamp)."""
    for ds in datasets:
        con.sql(f"CREATE OR REPLACE VIEW {ds} AS SELECT * EXCLUDE (_ingest_seq) "
                f"FROM {lake_scan(base, ds)}")


# ------------------------------------------------------------ catalog


def load_correctness_tool(root: str):
    """``tools/check_correctness.py`` as a module: its value digest and
    its list of DuckDB output types whose values do not compare
    reliably."""
    path = os.path.join(root, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_answers(tables_dir: str, tables, oracles: dict[str, str]) -> dict:
    """name → (columns, output types, rows) from each DuckDB oracle."""
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(tables_dir, t + '.parquet')}')")
    out = {}
    for name, sql in oracles.items():
        rel = con.sql(sql)
        out[name] = (list(rel.columns), [str(t) for t in rel.types], rel.fetchall())
    con.close()
    return out


def catalog_problems(tool, cols: list[str], rows: list[tuple], oracle) -> list[str]:
    """check_correctness.py's comparison: unsafe oracle types, row count,
    column names, then the order-insensitive value digest."""
    ocols, otypes, orows = oracle
    problems = [
        f"unsafe duckdb type {c}:{t}"
        for c, t in zip(ocols, otypes)
        if any(u in t for u in tool._UNSAFE_DUCK_TYPES)
    ]
    if len(rows) != len(orows):
        problems.append(f"rowcount spark={len(rows)} duckdb={len(orows)}")
    if sorted(c.lower() for c in cols) != sorted(c.lower() for c in ocols):
        problems.append(f"columns spark={sorted(cols)} duckdb={sorted(ocols)}")
    if not problems and tool.frame_digest(cols, rows) != tool.frame_digest(ocols, orows):
        problems.append("value digest differs")
    return problems
