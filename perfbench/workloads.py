"""The benchmark's workloads: seeded set-up, the timed cycles, and the
output checks.

Each workload runs closed-loop with one client: an op starts only when
the previous one has returned. A run builds its state from the seed in
a fresh root, runs the same op shapes untimed, then replays a fixed
number of cycles, so every run does the same amount of work and every
run of a seed the same work.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import time
from dataclasses import dataclass, field

import numpy as np

import fixtures as FX

# Named report query rendered every report run beside the day's change
# report (the snapshot diff): a partitioned window over the events
# table.
REPORT_QUERIES = ("latest_event_per_user",)
MAX_ROWS = 10**7  # above every report query's row count: nothing truncates


def _oracle_tools():
    """The repository's DuckDB oracle helpers (tools/check_oracle.py)."""
    tools = os.path.join(os.getcwd(), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check_oracle

    return check_oracle


class Capture:
    """Keeps the last frame a report op collected, so its output can be
    checked after the timed region. Installed in both modes."""

    def __init__(self, rec):
        from pyspark.sql.classic.dataframe import DataFrame

        self.frame = None
        orig = DataFrame.toPandas
        cap = self

        def to_pandas(df):
            if rec.inside("reports.render_report"):
                with rec.span("reports.collect"):
                    pdf = orig(df)
                rec.note_catalyst(df._jdf)
            else:
                pdf = orig(df)
            cap.frame = pdf
            return pdf

        rec.patch(DataFrame, "toPandas", to_pandas)


@dataclass
class ImportSizes:
    sf: float = 0.1  # events table of the named report query
    history_days: int = 2  # backfilled snapshots of event 100, one a day
    history_rows: int = 1_000
    day: FX.DayRows = field(default_factory=FX.DayRows)


class ImportReport:
    """One cron day of the paper's engine: the importer sweeps the day's
    deliveries into the versioned table (write ops), then the report run
    renders the day's change report and the named report query
    (read ops)."""

    name = "import_report"
    nominal_cycle_s = 10.0

    def __init__(self, spark, rec, root: str, seed: int, tiny: bool):
        self.spark, self.rec, self.root, self.seed = spark, rec, root, seed
        if tiny:
            self.sizes = ImportSizes(sf=0.001, history_rows=20, day=FX.DayRows(10, 30))
        else:
            self.sizes = ImportSizes()
        self.first_day = dt.date(2024, 3, 1)
        self.tables = os.path.join(root, "tables")
        self.results = []  # ImportResult per write op, in order
        self.report_ops = []  # (kind, key, frame, errors) per read op
        self.capture = Capture(rec)

    def instrument(self) -> None:
        """Op boundary at each imported file (both modes) and spans on
        the engine functions an import or report calls (traced mode)."""
        from pyspark.sql.session import SparkSession

        from etl_database_spark import ingest
        from etl_database_spark.registry import DatasetRegistry
        from etl_database_spark.sources import excel

        rec = self.rec
        for attr in ("register_snapshot", "set_status", "ensure_lookup", "active"):
            rec.wrap(DatasetRegistry, attr, f"registry.{attr}")
        rec.wrap(ingest.ImportJob, "run_file", "ingest.run_file")
        rec.wrap(ingest.TargetTable, "append", "ingest.append")
        rec.wrap(ingest.TargetTable, "maybe_compact", "ingest.maybe_compact")
        rec.wrap(ingest, "profile_widths", "ingest.profile_widths")
        rec.wrap(excel, "excel_to_csv", "sources.excel_to_csv")
        rec.wrap(SparkSession, "sql", "reports.sql", under="reports.render_report")
        rec.op_wrapper(ingest.ImportJob, "run_file", "write", "import.file")

    # -- set-up ----------------------------------------------------------
    def _configs(self, base: str):
        from etl_database_spark.ingest import ImportConfig
        from etl_database_spark.metadata import MetadataSpec

        meta = MetadataSpec(label_location="2", date_location="0")
        common = dict(
            config_name="meetmax", source_directory=os.path.join(base, "inbox"),
            archive_directory=os.path.join(base, "archive"), target_table="tmeetmaxevent",
            metadata=meta, truncate_to_width=True,
        )
        backfill = ImportConfig(
            file_pattern=r"\d{8}T\d{6}_MeetMax_\d+\.csv$", **dict(common, source_directory=os.path.join(base, "history")),
        )
        csv = ImportConfig(file_pattern=r"\d{8}T\d{6}_MeetMax_\d+\.csv$", compact_max_files=1, **common)
        xlsx = ImportConfig(file_pattern=r"\d{8}T\d{6}_MeetMax_\d+\.xlsx$", file_type="XLSX", **common)
        return backfill, csv, xlsx

    def _stage(self, rng, days: int) -> tuple[list, list[list]]:
        """Write the backfill history and ``days`` staged delivery days
        → (history deliveries, deliveries per day). Day ``c`` re-delivers
        the day before it, and alternates the invalid and empty file."""
        s = self.sizes
        hist = FX.write_backfill(
            os.path.join(self.base, "history"), rng, self.first_day, s.history_days, s.history_rows,
        )
        out = []
        for c in range(days):
            day = self.first_day + dt.timedelta(days=s.history_days + c)
            out.append(FX.write_day(
                os.path.join(self.base, f"day{c}"), rng, day, s.day, day - dt.timedelta(days=1),
                evolve=c == 0, invalid=c % 2 == 0,
            ))
        return hist, out

    def setup(self, cycles: int, t: dict) -> None:
        from etl_database_spark.ingest import load_directory

        rng = np.random.default_rng(self.seed)
        t0 = time.perf_counter()
        FX.write_events(self.tables, self.seed, self.sizes.sf)
        self.base = os.path.join(self.root, "feed")
        self.hist, self.days = self._stage(rng, cycles)
        self.by_name = {d.filename: d for day in self.days for d in day}
        t["setup.fixtures_s"] = time.perf_counter() - t0

        # The backfill is one bulk read of the history; as the run's
        # first Spark work it pays the JVM's cold start.
        t0 = time.perf_counter()
        self._open(self.base)
        self.backfill_rows = load_directory(self.spark, self.backfill_cfg, self.registry, self.data_root)
        self.backfill_ids = {r["datasetid"] for r in self.registry.datasets().select("datasetid").collect()}
        t["setup.backfill_s"] = time.perf_counter() - t0

        # Warm-up: the per-file import paths (import, supersede, schema
        # evolution, compaction) on a scratch root with its own
        # registry, then one report run (every read shape) over the
        # backfilled snapshots; reads leave the state unchanged.
        t0 = time.perf_counter()
        self._warm_imports(rng)
        self._report(-1, record=False)
        t["setup.warmup_s"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        self._prepare_oracle()
        t["setup.oracle_s"] = time.perf_counter() - t0

    def _warm_imports(self, rng) -> None:
        """A snapshot and its corrected re-delivery through ImportJob on
        a scratch root."""
        from etl_database_spark.ingest import ImportJob
        from etl_database_spark.registry import DatasetRegistry

        scratch = os.path.join(self.root, "warmup")
        _, csv_cfg, _ = self._configs(scratch)
        FX.write_redelivered(csv_cfg.source_directory, rng, self.first_day, self.sizes.day.redelivery)
        registry = DatasetRegistry(self.spark, os.path.join(scratch, "registry"))
        ImportJob(self.spark, csv_cfg, registry, os.path.join(scratch, "data")).run()

    def _open(self, base: str) -> None:
        from etl_database_spark.registry import DatasetRegistry

        self.backfill_cfg, self.csv_cfg, self.xlsx_cfg = self._configs(base)
        self.registry = DatasetRegistry(self.spark, os.path.join(base, "registry"))
        self.data_root = os.path.join(base, "data")

    def _prepare_oracle(self) -> None:
        """DuckDB results for the named queries; change-report sets from
        the generated deliveries."""
        from etl_database_spark.queries import load_all

        co = _oracle_tools()
        reg = load_all()
        con = co.duck_connect(self.tables)
        self.oracle = {}
        for q in REPORT_QUERIES:
            pdf = con.execute(reg[q].oracle).df()
            self.oracle[q] = (len(pdf), co.value_hash(pdf), list(pdf.columns))
        con.close()
        self.value_hash = co.value_hash

    # -- the timed cycle -------------------------------------------------
    def run_cycle(self, c: int) -> None:
        from etl_database_spark.ingest import ImportJob

        inbox = os.path.join(self.base, "inbox")
        os.makedirs(inbox, exist_ok=True)
        staged = os.path.join(self.base, f"day{c}")
        for f in sorted(os.listdir(staged)):
            os.rename(os.path.join(staged, f), os.path.join(inbox, f))
        for cfg in (self.csv_cfg, self.xlsx_cfg):
            self.results.extend(ImportJob(self.spark, cfg, self.registry, self.data_root).run())
        self._report(c, record=True)

    def _report(self, c: int, record: bool) -> None:
        """The report run: the change report's two body queries, then
        the named report queries, each one read op."""
        from etl_database_spark.queries import REGISTRY, load_all

        for kind in ("Added", "Removed"):
            with self.rec.op("read", "report.change"):
                frame, errors = self._change_report(kind)
            if record:
                self.report_ops.append(("change", (c, kind), frame, errors))
        if not REGISTRY:
            load_all()
        for q in REPORT_QUERIES:
            with self.rec.op("read", "report.named"):
                with self.rec.span("queries.build"):
                    df = REGISTRY[q].fn(self.spark, self.tables)
                df.createOrReplaceTempView(f"rq_{q}")
                frame, errors = self._render(q, f"SELECT * FROM rq_{q}")
            if record:
                self.report_ops.append(("named", q, frame, errors))

    def _render(self, key: str, sql: str):
        from etl_database_spark.reports import ReportConfig, render_report

        cfg = ReportConfig(
            report_id=1, report_name=key, subject=key, recipients=["ops@example.com"],
            body_template="<h1>" + key + "</h1>{{grid}}", body_queries={"grid": sql},
        )
        self.capture.frame = None
        with self.rec.span("reports.render_report"):
            rendered = render_report(self.spark, cfg, max_rows=MAX_ROWS)
        return self.capture.frame, rendered.errors

    def _change_report(self, kind: str):
        """Companies Added (or Removed) between the two newest active
        snapshots of event 100 — the f_get_event_changes shape."""
        self.registry.active().createOrReplaceTempView("active_dataset")
        self.spark.read.option("mergeSchema", "true").parquet(
            os.path.join(self.data_root, "tmeetmaxevent")
        ).createOrReplaceTempView("tmeetmaxevent")
        newer, older = ("1", "2") if kind == "Added" else ("2", "1")
        sql = f"""
            WITH snaps AS (
              SELECT datasetid, ROW_NUMBER() OVER (ORDER BY datasetdate DESC) AS rn
              FROM active_dataset WHERE label = '100'
            )
            SELECT DISTINCT company_name FROM tmeetmaxevent t JOIN snaps s
              ON t.datasetid = s.datasetid WHERE s.rn = {newer}
            EXCEPT
            SELECT company_name FROM tmeetmaxevent t JOIN snaps s
              ON t.datasetid = s.datasetid WHERE s.rn = {older}
            ORDER BY company_name"""
        return self._render(f"change_{kind}", sql)

    # -- checks ----------------------------------------------------------
    def check(self) -> tuple[int, list[str]]:
        """→ (failed ops, messages). Per-op checks fail their op; a
        broken table-wide invariant fails one op."""
        from pyspark.sql import functions as F

        from etl_database_spark.registry import STATUS_ID

        fails: list[str] = []
        table = self.spark.read.option("mergeSchema", "true").parquet(
            os.path.join(self.data_root, "tmeetmaxevent")
        )
        loaded = {
            r["datasetid"]: r["n"]
            for r in table.groupBy("datasetid").agg(F.count("*").alias("n")).collect()
        }
        reg = {r["datasetid"]: r for r in self.registry.datasets().collect()}
        for res in self.results:
            d = self.by_name[os.path.basename(res.filename)]
            want = "Empty" if d.expect_empty else "Active"
            row = reg.get(res.datasetid)
            got = loaded.get(res.datasetid, 0)
            if not (res.status == want and res.rows == got == d.rows and row is not None
                    and row["datastatusid"] == STATUS_ID[want]):
                fails.append(f"import {d.filename}: {res.status}/{want}, rows {res.rows}/{got}/{d.rows}")
        want_hist = {(d.label, dt.datetime.strptime(d.filename[:8], "%Y%m%d").date()): d.rows for d in self.hist}
        got_hist = {(reg[i]["label"], reg[i]["datasetdate"]): loaded.get(i, 0) for i in self.backfill_ids}
        if got_hist != want_hist or sum(want_hist.values()) != self.backfill_rows:
            fails.append("backfill rows per dataset differ from the deliveries")
        active: dict = {}
        for r in reg.values():
            if r["isactive"]:
                k = (r["label"], r["datasettypeid"], r["datasetdate"])
                active[k] = active.get(k, 0) + 1
        if any(n > 1 for n in active.values()):
            fails.append("single-active invariant violated")
        if FX.EVOLVED_COLUMN not in table.columns:
            fails.append(f"evolved column {FX.EVOLVED_COLUMN} missing")
        for kind, key, frame, errors in self.report_ops:
            msg = self._check_report(kind, key, frame, errors)
            if msg:
                fails.append(msg)
        return len(fails), fails

    def _check_report(self, kind, key, frame, errors) -> str | None:
        if errors or frame is None:
            return f"report {key}: errors {errors}"
        if kind == "named":
            n, h, cols = self.oracle[key]
            if len(frame) != n or sorted(frame.columns) != sorted(cols) or self.value_hash(frame) != h:
                return f"report {key}: {len(frame)} rows vs oracle {n}, hash mismatch"
            return None
        c, which = key
        want = self._expected_change(c, which)
        got = set(frame["company_name"])
        if got != want:
            return f"change report day {c} {which}: {len(got)} vs {len(want)} companies"
        return None

    def _expected_change(self, c: int, which: str) -> set:
        """Added/Removed companies of event 100 after day ``c``: the two
        newest dates among its active snapshots (a re-delivery replaces
        the snapshot of its date)."""
        snaps: dict = {}
        for d in self.hist + [d for day in self.days[: c + 1] for d in day]:
            if d.label == "100" and not d.expect_empty:
                snaps[d.filename[:8]] = d.names
        dates = sorted(snaps)
        new, old = snaps[dates[-1]], snaps[dates[-2]]
        return set(new - old) if which == "Added" else set(old - new)

    def layer_counts(self) -> dict:
        from etl_database_spark.ingest import TargetTable

        files = sum(TargetTable(self.spark, self.data_root, "tmeetmaxevent").files_per_partition().values())
        return {
            "registry.rows": float(self.registry.datasets().count()),
            "ingest.table_files": float(files),
        }


@dataclass
class RollupSizes:
    sf: float = 0.1  # events per day batch: 1,000,000 × sf / 30
    bulk_days: int = 20  # days in the store before the first timed cycle


QUANTILES = (0.5, 0.9)
QUANTILE_SPEC = ("value", 0.0, 500.0, 50)  # histogram counters: 10-wide buckets
HLL_TOLERANCE = 0.1  # relative error allowed of an HLL distinct count
WARMUP_DAYS = 3


class RollupDays:
    """The incremental report rollup: each cycle ingests the next day's
    events into ``RollupStore`` (write op), then refreshes the dashboard
    (read op): the exact per-(day, event type) aggregates, the HLL
    distinct users and the histogram quantiles of the value."""

    name = "rollup_store"
    nominal_cycle_s = 3.3

    def __init__(self, spark, rec, root: str, seed: int, tiny: bool):
        self.spark, self.rec, self.root, self.seed = spark, rec, root, seed
        self.sizes = RollupSizes(sf=0.003, bulk_days=3) if tiny else RollupSizes()
        self.serves = []  # (kind, days ingested, frame)

    def instrument(self) -> None:
        """Ops and spans are taken around the benchmark's own calls."""

    def _store(self, name: str):
        from etl_database_spark.operators.rollup import RollupStore

        return RollupStore(
            self.spark, os.path.join(self.root, name), distinct_col="user_id",
            quantile_spec=QUANTILE_SPEC,
        )

    def _events(self, days: range):
        return self.spark.read.parquet(*(self.paths[d] for d in days))

    def setup(self, cycles: int, t: dict) -> None:
        s = self.sizes
        t0 = time.perf_counter()
        # extra days for the warm-up, which runs on its own store
        days = s.bulk_days + cycles
        self.paths = FX.event_days(os.path.join(self.root, "events"), self.seed, s.sf, days + WARMUP_DAYS)
        t["setup.fixtures_s"] = time.perf_counter() - t0

        # Warm-up: day ingests, each followed by a dashboard refresh, on
        # a scratch store.
        t0 = time.perf_counter()
        scratch = self._store("warmup")
        for d in range(days, days + WARMUP_DAYS):
            scratch.ingest(self._events(range(d, d + 1)), f"day{d}")
            self._serve(scratch, 0, record=False)
        t["setup.warmup_s"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        self.store = self._store("store")
        self.store.ingest(self._events(range(s.bulk_days)), "bulk")
        t["setup.store_build_s"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        self._prepare_oracle()
        t["setup.oracle_s"] = time.perf_counter() - t0

    def _prepare_oracle(self) -> None:
        """Exact per-(day, event type) aggregates, distinct users and
        value quantiles of every generated day, from the generated
        files with pandas."""
        import pandas as pd
        import pyarrow.parquet as pq

        ev = pd.concat([pq.read_table(p).to_pandas() for p in self.paths[:-WARMUP_DAYS]])
        ev["day"] = ev["ts"].dt.date
        g = ev.groupby(["day", "event_type"])
        self.oracle = pd.DataFrame({
            "n_events": g.size(),
            "sum_cents": g["value"].apply(lambda v: int(np.round(v * 100).sum())),
            "min_value": g["value"].min(),
            "max_value": g["value"].max(),
            "distinct": g["user_id"].nunique(),
        })
        self.oracle_values = {k: np.sort(v.to_numpy()) for k, v in g["value"]}

    def run_cycle(self, c: int) -> None:
        day = self.sizes.bulk_days + c
        with self.rec.op("write", "rollup.ingest"), self.rec.span("rollup.ingest"):
            self.store.ingest(self._events(range(day, day + 1)), f"day{day}")
        self._serve(self.store, day + 1, record=True)

    def _serve(self, store, days: int, record: bool) -> None:
        """One dashboard refresh, one read op: the three serves."""
        serves = (
            ("rollup", "rollup.serve", store.serve),
            ("distinct", "rollup.serve_distinct", store.serve_distinct),
            ("quantiles", "rollup.serve_quantiles", lambda: store.serve_quantiles(list(QUANTILES))),
        )
        with self.rec.op("read", "serve.dashboard"):
            for kind, span, serve in serves:
                with self.rec.span(span):
                    frame = serve().toPandas()
                if record:
                    self.serves.append((kind, days, frame))

    # -- checks ----------------------------------------------------------
    def check(self) -> tuple[int, list[str]]:
        """Each serve against the oracle over the days ingested so far:
        counts, cent sums, extrema and averages exactly; HLL distinct
        counts within ``HLL_TOLERANCE``; each histogram quantile within
        one bucket width of the exact quantile."""
        fails: list[str] = []
        failed_ops: set = set()
        days = sorted({d for d, _ in self.oracle.index})
        width = (QUANTILE_SPEC[2] - QUANTILE_SPEC[1]) / QUANTILE_SPEC[3]
        for kind, n_days, frame in self.serves:
            want = self.oracle[self.oracle.index.get_level_values("day").isin(days[:n_days])]
            got = frame.set_index(["day", "event_type"]).sort_index() if kind != "quantiles" else frame
            if kind == "rollup":
                ok = (
                    list(got.index) == list(want.index)
                    and (got["n_events"] == want["n_events"]).all()
                    and (np.round(got["sum_value"] * 100).astype(np.int64) == want["sum_cents"]).all()
                    and (got["min_value"] == want["min_value"]).all()
                    and (got["max_value"] == want["max_value"]).all()
                    and np.allclose(got["avg_value"], want["sum_cents"] / 100 / want["n_events"], rtol=1e-12)
                )
            elif kind == "distinct":
                ok = list(got.index) == list(want.index) and bool(
                    (abs(got["approx_distinct"] - want["distinct"]) <= HLL_TOLERANCE * want["distinct"]).all()
                )
            else:
                ok = len(frame) == len(want) * len(QUANTILES)
                for r in frame.itertuples():
                    ok = ok and self._quantile_ok(r.day, r.event_type, r.q, r.est, width)
            if not ok:
                fails.append(f"serve {kind} after {n_days} days differs from the oracle")
                failed_ops.add(n_days)
        return len(failed_ops), fails

    def _quantile_ok(self, day, event_type, q: float, est: float, width: float) -> bool:
        """The histogram estimate of quantile ``q`` must lie within one
        bucket width of the order statistics around rank ``n * q``."""
        vals = self.oracle_values.get((day, event_type))
        if vals is None:
            return False
        k = len(vals) * q
        lo = vals[max(int(np.floor(k)) - 1, 0)]
        hi = vals[min(int(np.ceil(k)), len(vals) - 1)]
        return lo - width <= est <= hi + width

    def layer_counts(self) -> dict:
        files, size = 0, 0
        for dirpath, _, names in os.walk(self.store.path):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, n))
        return {"rollup.store_files": float(files), "rollup.store_mb": size / (1024 * 1024)}


WORKLOADS = {w.name: w for w in (ImportReport, RollupDays)}
