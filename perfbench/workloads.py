"""The three workloads. Each has

- ``prepare``: write the seeded inputs and the DuckDB reference answers
  (before Spark starts, untimed);
- ``setup``: the program-side set-up, timed, with its checks untimed;
- ``run_pass(i)``: one measured pass, a fixed seeded list of ops run
  back to back, returning each op's seconds and whether it succeeded;
- ``finish_layers``: turn what the traced pass recorded into the
  per-layer metrics in ``stats``. Fixed work sizes (rows read, rows
  out, upserts, rows returned) go to ``invariants`` instead: they are
  the same on every run of a seed, and a change in them means lost or
  duplicated rows, not a gain.

Every call into the package is a public function, timed from outside
by ``Probe.op``.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import shutil
import subprocess
import sys
import time
from collections import defaultdict

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from etl_energy_tracker_spark import jobs
from etl_energy_tracker_spark import timegrid as tg
from etl_energy_tracker_spark.config.market_config import (
    ESIOS_GEO_ALLOWED,
    ESIOS_GEO_FILTER_INDICATORS,
    INDICATOR_TO_MARKET,
    MARKET_BY_ID,
)
from etl_energy_tracker_spark.extract.omie_source import read_raw_dir
from etl_energy_tracker_spark.lake import Lake
from etl_energy_tracker_spark.pipelines import esios as esios_pipeline
from etl_energy_tracker_spark.pipelines import omie as omie_pipeline
from etl_energy_tracker_spark.pipelines.common import filter_date_mode, normalize_schema_drift
from etl_energy_tracker_spark.queries import catalog
from etl_energy_tracker_spark.read import nl_templates
from etl_energy_tracker_spark.read.readers import (
    PreciosReader,
    VolumenesReader,
    register_lake_tables,
)
from etl_energy_tracker_spark.schemas import DEDUP_KEYS

import checks
import inputs


def parquet_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def footer_rows(paths) -> int:
    return sum(pq.read_metadata(p).num_rows for p in paths)


class TracedLake(Lake):
    """A Lake whose upserts are spans, with the files each one wrote
    counted from the file system."""

    def __init__(self, spark, base: str, workload: Workload):
        super().__init__(spark, base)
        self.probe, self.stats = workload.probe, workload.stats
        self.invariants = workload.invariants

    def upsert_processed(self, df, dataset: str) -> None:
        path = self.processed_path(dataset)
        before = parquet_files(path)
        with self.probe.op("lake.upsert"):
            super().upsert_processed(df, dataset)
        new = {p: s for p, s in parquet_files(path).items() if p not in before}
        self.invariants["lake.upserts"] += 1
        self.stats["lake.bytes_written"] += sum(new.values())
        self.stats["lake.files_written"] += len(new)
        self.stats["lake.rows_rewritten"] += footer_rows(new)


class Workload:
    name = ""

    def __init__(self, work: str, seed: int, root: str):
        self.work, self.seed, self.root = work, seed, root
        self.base = os.path.join(work, "lake")
        self.stats: dict[str, float] = defaultdict(float)
        self.invariants: dict[str, float] = defaultdict(float)
        self.problems: list[str] = []

    def attach(self, spark, probe) -> None:
        self.spark, self.probe = spark, probe

    def rng(self, *salt: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, 7, *salt])

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.problems.append(what)
        return ok

    def lake_shape(self) -> None:
        """Files per leaf and bytes per row of the processed zone."""
        files = parquet_files(os.path.join(self.base, "processed"))
        leaves = {os.path.dirname(p) for p in files}
        self.stats["lake.files_per_leaf"] = len(files) / max(1, len(leaves))
        self.stats["lake.bytes_per_row"] = sum(files.values()) / max(1, footer_rows(files))



# ------------------------------------------------------------------ ingest


class DailyIngest(Workload):
    """Bulk-load days 1-20, then land day 21 and re-ingest one seeded
    already-loaded day, each day through the ESIOS price job and the
    OMIE volume job. Every pass starts from the bulk-loaded lake, so
    passes do equal work."""

    name = "daily_ingest"
    BULK = range(1, 21)
    DAY = 21

    def prepare(self) -> None:
        # the last UTC hour of a day's prices is in the next day's file
        inputs.write_esios(self.base, self.seed, range(1, self.DAY + 2))
        inputs.write_omie(self.base, self.seed, range(1, self.DAY + 1))
        self.bulk_dir = inputs.omie_bulk_dir(self.base, self.BULK)
        self.con = duckdb.connect()
        loaded = [*self.BULK, self.DAY]
        self.expected = {
            "precios": checks.expected_precios(
                self.con, self.base, loaded, INDICATOR_TO_MARKET,
                ESIOS_GEO_FILTER_INDICATORS, ESIOS_GEO_ALLOWED,
            ),
            "volumenes_omie": checks.expected_omie(self.con, self.base, loaded),
        }

    def setup(self) -> float:
        t0 = time.perf_counter()
        first, last = inputs.day(self.BULK[0]).isoformat(), inputs.day(self.BULK[-1]).isoformat()
        ok = self.batch(Lake(self.spark, self.base), self.bulk_dir, "multiple", first, last)
        took = time.perf_counter() - t0
        self.check(ok, "bulk load failed")
        self.snapshot = os.path.join(self.work, "bulk_snapshot")
        shutil.copytree(os.path.join(self.base, "processed"), self.snapshot)
        return took

    def batch(self, lake: Lake, omie_path: str, mode: str, start: str, end: str | None = None) -> bool:
        op, spark = self.probe.op, self.spark
        with op("extract.esios_read"):
            raw_e = lake.read_raw(*inputs.ESIOS_RAW)
        with op("extract.omie_read"):
            raw_o = read_raw_dir(spark, omie_path)
        if self.probe.traced:
            self.transforms(raw_e, raw_o, mode, start, end)
        with op("jobs.run_esios_precios_etl"):
            s1 = jobs.run_esios_precios_etl(spark, lake, raw_e, mode=mode, start=start, end=end)
        with op("jobs.run_omie_volumenes_etl"):
            s2 = jobs.run_omie_volumenes_etl(spark, lake, raw_o, mode=mode, start=start, end=end)
        return self.check(s1["success"], f"esios {start}: {s1['details']}") & self.check(
            s2["success"], f"omie {start}: {s2['details']}"
        )

    def transforms(self, raw_e, raw_o, mode, start, end) -> None:
        """Traced only: each job's transform chain forced through a noop
        sink, counting rows in and out with observations (no extra job)."""
        obs = [Observation() for _ in range(4)]
        n = F.count(F.lit(1)).alias("n")
        with self.probe.op("pipelines.esios_transform"):
            f = filter_date_mode(raw_e.observe(obs[0], n), "datetime_utc", mode, start, end)
            out = esios_pipeline.transform_price_data(self.spark, f)
            out.observe(obs[1], n).write.format("noop").mode("overwrite").save()
        with self.probe.op("pipelines.omie_transform"):
            f = filter_date_mode(normalize_schema_drift(raw_o.observe(obs[2], n)), "Fecha", mode, start, end)
            out = omie_pipeline.transform_volumenes(f, tg.dst_dim(self.spark))
            out.observe(obs[3], n).write.format("noop").mode("overwrite").save()
        self.invariants["extract.rows"] += obs[0].get["n"] + obs[2].get["n"]
        self.invariants["pipelines.rows_out"] += obs[1].get["n"] + obs[3].get["n"]

    def count(self, dataset: str) -> int:
        return checks.count_rows(self.con, self.base, dataset)

    def run_pass(self, i: int) -> list[tuple[float, bool]]:
        processed = os.path.join(self.base, "processed")
        shutil.rmtree(processed)
        shutil.copytree(self.snapshot, processed)
        if self.probe.traced:
            lake = TracedLake(self.spark, self.base, self)
        else:
            lake = Lake(self.spark, self.base)
        day = inputs.day(self.DAY).isoformat()
        with self.probe.op("op.day") as span:
            ok = self.batch(lake, inputs.omie_dir(self.base, self.DAY), "single", day)
        ops = [(span.dur, ok)]
        r = int(self.rng(i).choice(self.BULK))
        before = {ds: self.count(ds) for ds in self.expected}
        with self.probe.op("op.reingest") as span:
            ok = self.batch(lake, inputs.omie_dir(self.base, r), "single", inputs.day(r).isoformat())
        for ds, n in before.items():
            ok &= self.check(self.count(ds) == n, f"re-ingest of day {r} changed {ds} rows")
        ops.append((span.dur, ok))
        state_ok = True
        for ds, want in self.expected.items():
            got = self.count(ds)
            state_ok &= self.check(got == want, f"{ds}: {got} rows, raw files give {want}")
            dups = checks.duplicate_keys(self.con, self.base, ds, DEDUP_KEYS[ds])
            state_ok &= self.check(dups == 0, f"{ds}: {dups} repeated dedup keys")
        if self.probe.traced:
            self.lake_shape()
        return [(t, ok and state_ok) for t, ok in ops]

    def finish_layers(self) -> None:
        total = self.probe.total
        self.stats["lake.rows_rewritten_per_row_ingested"] = (
            self.stats["lake.rows_rewritten"] / self.invariants["pipelines.rows_out"])
        self.stats["lake.upsert_jobs"] = total("lake.upsert", "jobs")
        self.stats["lake.upsert_tasks"] = total("lake.upsert", "tasks")
        self.stats["lake.upsert_s"] = total("lake.upsert")
        for name in ("extract.esios_read", "extract.omie_read",
                     "pipelines.esios_transform", "pipelines.omie_transform"):
            self.stats[f"{name}_s"] = total(name)


# ------------------------------------------------------------------- reads


PRICE_MARKETS = sorted(set(INDICATOR_TO_MARKET.values()))


def source_digest(root: str) -> str:
    """Hash of the package and benchmark sources: names a lake built by
    this exact code."""
    h = hashlib.sha256()
    for top in ("etl_energy_tracker_spark", "perfbench"):
        for d, dirs, names in sorted(os.walk(os.path.join(root, top))):
            dirs.sort()
            for n in sorted(names):
                if n.endswith(".py"):
                    p = os.path.join(d, n)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


class LakeReads(Workload):
    """A lake of ``precios`` and ``volumenes_i90`` built by the jobs
    (bulk days 1-27, then day 28 on its own), then a seeded mix of
    reads, each collected to the driver.

    The lake's contents do not depend on the run's seed (the seed picks
    the reads), so it is built once per checkout and source version, by
    a separate ``run.py --build-lake`` process, and kept under
    ``.perfbench_cache``. Every measured run therefore starts from the
    same cold session; ``daily_ingest`` times the job and upsert path
    on every run."""

    name = "lake_reads"
    BULK = range(1, 28)
    LAST = 28
    LAKE_SEED = 0
    KINDS = ("point", "range", "mercados", "sql")
    PER_PASS = 3  # reads of each kind per pass
    WARM_PASSES = 2
    WARM_SALT = 1000  # warm-up passes draw their reads apart from measured ones

    def __init__(self, work: str, seed: int, root: str):
        super().__init__(work, seed, root)
        self.cached = os.path.join(
            root, ".perfbench_cache", f"lake_reads-{source_digest(root)}")

    def prepare(self) -> None:
        self.con = duckdb.connect()
        if not os.path.isdir(self.cached):
            built = subprocess.run(
                [sys.executable, os.path.join(self.root, "perfbench", "run.py"), "--build-lake",
                 "--workload", self.name, "--seed", str(self.LAKE_SEED), "--seconds", "0"],
                stdout=sys.stderr, timeout=600,
            )
            if built.returncode != 0 or not os.path.isdir(self.cached):
                raise RuntimeError(f"building the lake_reads lake failed ({built.returncode})")
        self.base = self.cached

    def build_cache(self) -> bool:
        """Bulk days 1-27, then day 28, through the ESIOS and I90 jobs;
        the finished lake is moved into the cache in one rename."""
        inputs.write_esios(self.base, self.LAKE_SEED, range(1, self.LAST + 2))
        inputs.write_i90(self.base, self.LAKE_SEED, range(1, self.LAST + 1))
        lake, spark = Lake(self.spark, self.base), self.spark
        first, last = inputs.day(self.BULK[0]).isoformat(), inputs.day(self.BULK[-1]).isoformat()
        one = inputs.day(self.LAST).isoformat()
        for mode, start, end in (("multiple", first, last), ("single", one, None)):
            for s in (
                jobs.run_esios_precios_etl(
                    spark, lake, lake.read_raw(*inputs.ESIOS_RAW), mode=mode, start=start, end=end),
                jobs.run_i90_volumenes_etl(
                    spark, lake, lake.read_raw(*inputs.I90_RAW), inputs.I90_MARKETS,
                    mode=mode, start=start, end=end),
            ):
                if not self.check(s["success"], f"lake build: {s['details']}"):
                    return False
        shutil.rmtree(os.path.join(self.base, "raw"))
        os.makedirs(os.path.dirname(self.cached), exist_ok=True)
        try:
            os.rename(self.base, self.cached)
        except OSError:  # another run cached the same lake first
            pass
        return True

    def setup(self) -> float:
        """Register the lake views, then warm up with WARM_PASSES passes
        of reads (checked, untimed)."""
        t0 = time.perf_counter()
        self.views = register_lake_tables(self.spark, Lake(self.spark, self.base))
        warm = [(spec, *self.read(spec))
                for i in range(self.WARM_PASSES) for spec in self.specs(self.WARM_SALT + i)]
        took = time.perf_counter() - t0
        checks.lake_views(self.con, self.base, self.views)
        for spec, rows, df in warm:
            self.verify(spec, df.columns, rows)
        return took

    def specs(self, i: int) -> list[tuple]:
        """Pass ``i``'s reads: PER_PASS of each kind, in seeded order."""
        rng = self.rng(i)
        day = lambda d: inputs.day(int(d)).isoformat()  # noqa: E731
        out = []
        for _ in range(self.PER_PASS):
            d = rng.integers(1, self.LAST + 1)
            out.append(("point", day(d), int(rng.choice(PRICE_MARKETS))))
            d0 = rng.integers(1, self.LAST - 19)
            out.append(("range", day(d0), day(d0 + 19),
                        sorted(int(m) for m in rng.choice(PRICE_MARKETS, 3, replace=False))))
            out.append(("mercados", day(rng.integers(1, self.LAST + 1))))
            d0 = rng.integers(1, self.LAST - 6)
            market = MARKET_BY_ID[int(rng.choice(PRICE_MARKETS))].name
            out.append(("sql", [
                f"average daily price of {market} between {day(d0)} and {day(d0 + 6)}",
                f"total volume by market on {day(d0)}",
                f"top 3 markets by price between {day(d0)} and {day(d0 + 6)}",
                f"rolling average price of {market} on {day(d0)}",
            ][int(rng.integers(0, 4))]))
        return [out[k] for k in rng.permutation(len(out))]

    def read(self, spec) -> tuple[list[tuple], object]:
        """(rows, DataFrame) of one read."""
        op, lake = self.probe.op, Lake(self.spark, self.base)
        kind = spec[0]
        with op("read.build"):
            if kind == "point":
                df = PreciosReader(lake).read(
                    start=f"{spec[1]} 00:00:00", end=f"{spec[1]} 23:45:00", mercado_ids=[spec[2]])
            elif kind == "range":
                df = PreciosReader(lake).read(
                    start=f"{spec[1]} 00:00:00", end=f"{spec[2]} 23:45:00",
                    mercado_ids=spec[3], granularity="hour")
            elif kind == "mercados":
                df = VolumenesReader(lake).read(
                    "volumenes_i90", start=f"{spec[1]} 00:00:00", end=f"{spec[1]} 23:45:00",
                    mercados=["diario"])
            else:
                with op("read.nl_match"):
                    sql = nl_templates.match_template(spec[1])
                df = self.spark.sql(sql)
        with op("read.collect"):
            rows = [tuple(r) for r in df.collect()]
        return rows, df

    def reference(self, spec, columns: list[str]) -> list[tuple]:
        """DuckDB's answer to one read over the lake views."""
        kind, cols = spec[0], ", ".join(columns)
        if kind == "point":
            where = (f"datetime_utc BETWEEN TIMESTAMP '{spec[1]} 00:00:00' AND "
                     f"TIMESTAMP '{spec[1]} 23:45:00' AND id_mercado = {spec[2]}")
            return self.con.sql(f"SELECT {cols} FROM precios WHERE {where}").fetchall()
        if kind == "range":
            ids = ", ".join(map(str, spec[3]))
            return self.con.sql(
                "SELECT date_trunc('hour', datetime_utc) AS datetime_utc, id_mercado, "
                "avg(precio) AS precio FROM precios WHERE datetime_utc BETWEEN "
                f"TIMESTAMP '{spec[1]} 00:00:00' AND TIMESTAMP '{spec[2]} 23:45:00' "
                f"AND id_mercado IN ({ids}) GROUP BY ALL"
            ).fetchall()
        if kind == "mercados":
            return self.con.sql(
                f"SELECT {cols} FROM volumenes_i90 WHERE datetime_utc BETWEEN "
                f"TIMESTAMP '{spec[1]} 00:00:00' AND TIMESTAMP '{spec[1]} 23:45:00' "
                "AND mercado = 'diario'"
            ).fetchall()
        return self.con.sql(nl_templates.match_template(spec[1])).fetchall()

    def verify(self, spec, columns: list[str], rows: list[tuple]) -> bool:
        return self.check(
            len(rows) > 0 and checks.rows_equal(rows, self.reference(spec, columns)),
            f"read {spec} differs from DuckDB",
        )

    def run_pass(self, i: int) -> list[tuple[float, bool]]:
        done = []
        for spec in self.specs(i):
            with self.probe.op(f"op.read.{spec[0]}") as span:
                rows, df = self.read(spec)
            done.append((spec, span.dur, rows, df))
            if self.probe.traced:
                self.stats["read.files_scanned"] += len(df.inputFiles())
                self.invariants["read.rows_returned"] += len(rows)
        if self.probe.traced:
            self.traced_reads = [(spec[0], t) for spec, t, _, _ in done]
        return [(t, self.verify(spec, df.columns, rows)) for spec, t, rows, df in done]

    def finish_layers(self) -> None:
        self.stats["read.build_s"] = self.probe.total("read.build")
        self.stats["read.collect_s"] = self.probe.total("read.collect")
        self.stats["read.nl_match_s"] = self.probe.total("read.nl_match")
        self.stats["read.jobs"] = sum(
            self.probe.inclusive(f"op.read.{kind}", "jobs") for kind in self.KINDS)
        for kind in self.KINDS:
            times = [t for k, t in self.traced_reads if k == kind]
            self.stats[f"read.{kind}_p50_s"] = float(np.median(times))
        self.lake_shape()


# ----------------------------------------------------------------- catalog


class CatalogMix(Workload):
    """Six catalog queries over sf0.1-shaped tables, each split into
    build (the query function: planning, eager checkpoints, streaming
    drives) and exec (a noop sink). Set-up runs each query once on
    sf0.01-shaped tables, the scale of the repo's oracle gate, collects
    it and checks it against the query's DuckDB oracle; that run is
    also the warm-up. The oracle answers come from ``prepare``, before
    Spark starts, so no timed region overlaps them."""

    name = "catalog_mix"
    QUERIES = (
        "q3_shipping_priority",
        "keep_last_dedup",
        "linking_hash_match",
        "minhash_lsh_pairs",
        "stateful_user_totals",
        "label_propagation_cc",
    )
    TABLES = ("customer", "orders", "lineitem", "events", "documents")
    CHECK_SEED = 0  # the sf0.01 check tables do not depend on the run's seed

    def prepare(self) -> None:
        self.tables = os.path.join(self.work, "sf0.1")
        self.check_tables = os.path.join(self.work, "sf0.01")
        inputs.write_catalog_tables(self.tables, self.seed, scale=0.1)
        inputs.write_catalog_tables(self.check_tables, self.CHECK_SEED, scale=0.01)
        self.tool = checks.load_correctness_tool(self.root)
        self.oracle = self.oracle_answers()
        self.fns = catalog.queries()
        self.bad: set[str] = set()

    def oracle_answers(self) -> dict:
        """The oracles' answers on the check tables. Neither depends on
        the run's seed, so they are computed once per checkout and source
        version and kept under ``.perfbench_cache`` (about 7 s of DuckDB
        work that would otherwise fall in every run)."""
        path = os.path.join(
            self.root, ".perfbench_cache", f"catalog_oracle-{source_digest(self.root)}.pickle")
        if os.path.isfile(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        oracles = catalog.oracle_sql()
        answers = checks.oracle_answers(
            self.check_tables, self.TABLES, {q: oracles[q] for q in self.QUERIES})
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(answers, f)
        os.replace(tmp, path)  # a concurrent run writes the same answers
        return answers

    def setup(self) -> float:
        took, results = 0.0, {}
        for name in self.QUERIES:
            t0 = time.perf_counter()
            df = self.fns[name](self.spark, self.check_tables)
            rows = [tuple(r) for r in df.collect()]
            took += time.perf_counter() - t0
            results[name] = (df.columns, rows)
        for name, (cols, rows) in results.items():
            problems = checks.catalog_problems(self.tool, cols, rows, self.oracle[name])
            if not self.check(not problems, f"{name}: {'; '.join(problems)}"):
                self.bad.add(name)
        return took

    def run_pass(self, i: int) -> list[tuple[float, bool]]:
        ops = []
        for k in self.rng(i).permutation(len(self.QUERIES)):
            name = self.QUERIES[k]
            with self.probe.op(f"queries.{name}") as span:
                with self.probe.op(f"queries.{name}.build"):
                    df = self.fns[name](self.spark, self.tables)
                with self.probe.op(f"queries.{name}.exec"):
                    df.write.format("noop").mode("overwrite").save()
            ops.append((span.dur, name not in self.bad))
        return ops

    def finish_layers(self) -> None:
        total = self.probe.total
        for name in self.QUERIES:
            q = f"queries.{name}"
            self.stats[f"{q}.build_s"] = total(f"{q}.build")
            self.stats[f"{q}.build_jobs"] = total(f"{q}.build", "jobs")
            self.stats[f"{q}.exec_s"] = total(f"{q}.exec")
            self.stats[f"{q}.exec_jobs"] = total(f"{q}.exec", "jobs")
            self.stats[f"{q}.tasks"] = self.probe.inclusive(q, "tasks")


WORKLOADS = {w.name: w for w in (DailyIngest, LakeReads, CatalogMix)}
