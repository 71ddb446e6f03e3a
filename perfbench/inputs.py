"""Seeded input generation for the benchmark workloads.

Everything the program reads is written here, from ``--seed`` alone:
the lake's raw zone (ESIOS and I90 as parquet, one file per day, in the
``raw/<mercado>/<dataset>/year=/month=`` layout ``Lake.read_raw``
reads; OMIE as ``;``-separated CSV files, one per session, one
directory per day) and an sf0.1-shaped star schema for the catalog
queries. Sizes never depend on the seed; values, unit names and
orderings do.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

YEAR, MONTH, N_DAYS = 2024, 1, 30

# ESIOS price indicators, with the geographies FIXTURES.md 1.1 gives
# (mostly España, some Portugal/Francia rows for the geo filter). The
# hourly spot/intra ones come with one row per geography, and only
# España survives the geo filter. The 15-min balancing ones are not
# geo-scoped and come for España only. So each of the 16 priced markets
# gets one price per quarter-hour: 16*96 = 1,536 rows per UTC day (see
# README, "Calibration"). 99999 maps to no market and is dropped.
ESIOS_HOURLY = (600, 612, 613, 614, 615, 616, 617, 618)
ESIOS_QUARTER = (2130, 634, 1782, 677, 676, 10400, 10401, 2197)
ESIOS_UNMAPPED = 99999
ESIOS_GEOS = ("España", "Portugal", "Francia")

# Unit counts follow the reference's fixture notes (FIXTURES.md 1.2:
# ~50 distinct UP codes; 1.4: UOF codes about as many).
N_UOF = 48  # OMIE offer units per session file
OMIE_SESSIONS = (None, 1, 2)  # diario file + two intraday sessions
N_UP = 50  # I90 programming units
I90_SHEET, I90_MARKETS = "03", [1]  # the diario volume sheet → market 1

RAW_ESIOS_SCHEMA = pa.schema(
    [
        ("datetime_utc", pa.string()),
        ("value", pa.float64()),
        ("indicador_id", pa.string()),
        ("geo_name", pa.string()),
        ("granularidad", pa.string()),
    ]
)
RAW_I90_SCHEMA = pa.schema(
    [
        ("fecha", pa.string()),
        ("hora", pa.string()),
        ("granularity", pa.string()),
        ("volumenes", pa.float64()),
        ("Unidad de Programación", pa.string()),
        ("Sentido", pa.string()),
        ("Redespacho", pa.string()),
        ("sheet_i90_volumenes", pa.string()),
    ]
)
OMIE_HEADER = (
    "Fecha;Hora;Unidad;Energía Compra/Venta;Ofertada (O)/Casada (C);Tipo Oferta"
)


def day(d: int) -> dt.date:
    return dt.date(YEAR, MONTH, d)


def _rng(seed: int, *salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, *salt])


def _utc_day_start(d: int) -> dt.datetime:
    # Madrid is UTC+1 all January: local midnight is 23:00 UTC the day before
    return dt.datetime.combine(day(d), dt.time()) - dt.timedelta(hours=1)


# ---------------------------------------------------------------- ESIOS


ESIOS_RAW = ("esios", "precios")  # Lake.read_raw(mercado, dataset)


def _month_dir(base: str, mercado: str, dataset: str) -> str:
    return os.path.join(base, "raw", mercado, dataset, f"year={YEAR}", f"month={MONTH}")


def esios_path(base: str, d: int) -> str:
    return os.path.join(_month_dir(base, *ESIOS_RAW), f"{day(d).isoformat()}.parquet")


def _esios_block(t0: dt.datetime, step_min: int, inds, geos, prices, gran: str) -> dict:
    """Rows for every (indicator, step, geography) of ``prices``, whose
    shape is (len(inds), steps, len(geos))."""
    steps = np.datetime64(t0, "s") + np.arange(prices.shape[1]) * np.timedelta64(step_min, "m")
    stamps = np.char.replace(np.datetime_as_string(steps, unit="s"), "T", " ")
    shape = prices.shape
    return {
        "datetime_utc": np.broadcast_to(stamps[None, :, None], shape).ravel(),
        "value": np.round(prices, 2).ravel(),
        "indicador_id": np.broadcast_to(np.array(inds).astype(str)[:, None, None], shape).ravel(),
        "geo_name": np.broadcast_to(np.array(geos)[None, None, :], shape).ravel(),
        "granularidad": np.full(prices.size, gran),
    }


def write_esios(base: str, seed: int, days: range) -> None:
    os.makedirs(_month_dir(base, *ESIOS_RAW), exist_ok=True)
    for d in days:
        rng = _rng(seed, 1, d)
        t0 = _utc_day_start(d)
        blocks = [
            _esios_block(t0, 60, ESIOS_HOURLY, ESIOS_GEOS,
                         rng.uniform(5, 180, size=(len(ESIOS_HOURLY), 24, len(ESIOS_GEOS))), "Hora"),
            _esios_block(t0, 15, ESIOS_QUARTER, ["España"],
                         rng.uniform(0, 300, size=(len(ESIOS_QUARTER), 96, 1)), "Quince minutos"),
            _esios_block(t0, 15, [ESIOS_UNMAPPED], ["España"],
                         rng.uniform(0, 300, size=(1, 96, 1)), "Quince minutos"),
        ]
        cols = {f.name: np.concatenate([b[f.name] for b in blocks]) for f in RAW_ESIOS_SCHEMA}
        pq.write_table(pa.table(cols, schema=RAW_ESIOS_SCHEMA), esios_path(base, d))


# ----------------------------------------------------------------- OMIE


def omie_dir(base: str, d: int) -> str:
    """One directory per day: the daily job reads exactly that day's
    session files."""
    return os.path.join(base, "raw", "omie", "volumenes", day(d).strftime("%Y%m%d"))


def omie_bulk_dir(base: str, days: range) -> str:
    """A directory holding (hard links to) the files of ``days``, for
    the one-shot bulk load."""
    out = os.path.join(base, "raw", "omie", "volumenes", f"bulk_{days.start}_{days.stop - 1}")
    if not os.path.isdir(out):
        os.makedirs(out)
        for d in days:
            for name in os.listdir(omie_dir(base, d)):
                os.link(os.path.join(omie_dir(base, d), name), os.path.join(out, name))
    return out


def write_omie(base: str, seed: int, days: range) -> None:
    units = np.array(
        [f"UOF{n:05d}" for n in _rng(seed, 2).choice(90000, N_UOF, replace=False)])
    hours = np.arange(1, 25).astype(str)
    for d in days:
        stamp = day(d).strftime("%Y%m%d")
        os.makedirs(omie_dir(base, d), exist_ok=True)
        for session in OMIE_SESSIONS:
            rng = _rng(seed, 3, d, session or 0)
            # European decimal comma; about 15% of the offers are not matched
            energy = np.char.replace(
                np.char.mod("%.2f", rng.uniform(0, 1500, size=(N_UOF, 24))), ".", ",")
            casada = np.where(rng.random((N_UOF, 24)) < 0.85, "C", "O")
            tipo = np.where(rng.random(N_UOF) < 0.3, "C", "V")[:, None]
            fields = (day(d).isoformat(), hours[None, :], units[:, None], energy, casada, tipo)
            lines = fields[0]
            for f in fields[1:]:
                lines = np.char.add(np.char.add(lines, ";"), f)
            name = f"pdbc_{stamp}.csv" if session is None else f"pibca_{stamp}.{session}.csv"
            with open(os.path.join(omie_dir(base, d), name), "w", encoding="utf-8") as out:
                out.write(OMIE_HEADER + "\n" + "\n".join(lines.reshape(-1)) + "\n")


# ------------------------------------------------------------------ I90


I90_RAW = ("i90", f"volumenes_{I90_SHEET}")


def i90_path(base: str, d: int) -> str:
    return os.path.join(_month_dir(base, *I90_RAW), f"{day(d).isoformat()}.parquet")


def write_i90(base: str, seed: int, days: range) -> None:
    os.makedirs(_month_dir(base, *I90_RAW), exist_ok=True)
    ups = [f"UP{n:04d}" for n in _rng(seed, 4).choice(9000, N_UP, replace=False)]
    n = N_UP * 96
    for d in days:
        rng = _rng(seed, 5, d)
        vols = np.round(rng.uniform(-50, 400, size=(N_UP, 96)), 1)
        vols[rng.random((N_UP, 96)) < 0.05] = 0.0  # zero rows are dropped
        sentido = rng.random(N_UP) < 0.5
        t = pa.table(
            {
                "fecha": [day(d).isoformat()] * n,
                "hora": [str(q + 1) for _ in range(N_UP) for q in range(96)],
                "granularity": ["Quince minutos"] * n,
                "volumenes": vols.reshape(-1),
                "Unidad de Programación": [u for u in ups for _ in range(96)],
                "Sentido": ["Subir" if s else "Bajar" for s in sentido for _ in range(96)],
                "Redespacho": [None] * n,
                "sheet_i90_volumenes": [I90_SHEET] * n,
            },
            schema=RAW_I90_SCHEMA,
        )
        pq.write_table(t, i90_path(base, d))


# -------------------------------------------------------------- catalog


_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
_LANG_SHARE = (0.41, 0.15, 0.14, 0.15, 0.15)  # as in the sf0.1 testdata


def _ts(start: str, n_days: int, rng: np.random.Generator, n: int, whole_days: bool):
    base = np.datetime64(start, "us")
    if whole_days:
        off = rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    else:
        off = rng.integers(0, n_days * 86_400_000_000, n).astype("timedelta64[us]")
    return pa.array(base + off, pa.timestamp("us"))


def write_catalog_tables(out: str, seed: int, scale: float = 0.1) -> None:
    """customer / orders / lineitem / events / documents, shaped like the
    sf-scaled testdata tables: same columns, types and row counts, and
    the distributions README "Calibration" compares with sf0.1."""
    os.makedirs(out, exist_ok=True)
    rng = _rng(seed, 6)
    n_cust, n_ord = int(150_000 * scale), int(1_500_000 * scale)
    n_li, n_part = int(6_000_000 * scale), int(200_000 * scale)
    n_users, n_ev, n_docs = max(15, int(15_000 * scale)), int(1_000_000 * scale), int(50_000 * scale)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900, 500_000, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", 2404, rng, n_ord, whole_days=True),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, max(10, n_part // 20), n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-02", 2498, rng, n_li, whole_days=True),
    })
    ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, N_DAYS * 86_400_000_000, n_ev).astype("timedelta64[us]")
    )
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_docs):
        u = rng.random()
        if i > 10 and u < 0.0016:  # exact copy of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
        elif i > 10 and u < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(np.array(_WORDS)[rng.integers(0, len(_WORDS), int(rng.integers(10, 101)))])
        texts.append(" ".join(words))
    write("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "de", "fr", "es"], n_docs, p=_LANG_SHARE),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
