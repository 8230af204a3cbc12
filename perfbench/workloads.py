"""The workloads: what one op is, how it warms up and how its results are
checked. Each op calls one of the package's public entry points:
``mongo_to_parquet_spark.__main__.main`` (the export CLI) or
``queries()[key](spark, dir)``."""

from __future__ import annotations

import contextlib
import io
import json
import logging
import os
import pickle
import shutil
import time

import duckdb
from parity import compare

#: keys of the driver-heavy workload (iterative trainers, probes, loops)
ITERATIVE = ("q_unigram_train", "q_graph_kcore", "q_embed_kmeans")
COLLECTIONS = ("orders_log", "ledger", "profiles")
DATE_FIELDS = {"orders_log": "created_at", "ledger": "posted_at", "profiles": ""}


@contextlib.contextmanager
def job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


class QueryWorkload:
    """One op = build one key's DataFrame and write it to the ``noop`` sink."""

    keys = ITERATIVE

    def __init__(self, data_dir: str, cache_dir: str):
        from mongo_to_parquet_spark.queries import oracle_sql, queries

        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.fns = queries()
        self.oracle = oracle_sql()
        self.results: dict = {}
        self.errors: dict[str, str] = {}

    def warmup(self, spark, order) -> None:
        """First pass: every key collected, kept for the correctness check
        after the timed region."""
        for key in order:
            try:
                self.results[key] = self.fns[key](spark, self.data_dir).toPandas()
            except Exception as e:  # the op fails; the run goes on and counts it
                self.errors[key] = f"warmup raised {type(e).__name__}: {e}"
            self.leaks(spark)

    def op(self, spark, key: str, tracer) -> dict:
        t0 = time.perf_counter()
        with tracer.span("queries.build", key=key):
            df = self.fns[key](spark, self.data_dir)
        t1 = time.perf_counter()
        with tracer.span("queries.action", key=key):
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        rec = {"key": key, "lat": t2 - t0, "build_s": t1 - t0, "action_s": t2 - t1}
        if tracer.enabled:
            rec["plan"] = _phases(df)
        return rec

    @staticmethod
    def leaks(spark) -> tuple[int, int]:
        """Count, then drop, the persisted RDDs and temp views an op left."""
        jsc = spark.sparkContext._jsc
        rdds = list(jsc.getPersistentRDDs().values())
        views = [t.name for t in spark.catalog.listTables() if t.isTemporary]
        glob = [t.name for t in spark.catalog.listTables("global_temp")]
        for r in rdds:
            r.unpersist(True)
        spark.catalog.clearCache()
        for v in views:
            spark.catalog.dropTempView(v)
        for v in glob:
            spark.catalog.dropGlobalTempView(v)
        return len(rdds), len(views) + len(glob)

    def check(self) -> dict[str, str]:
        """Key → error for every key whose warmup result differs from its
        ``oracle_sql()`` answer in DuckDB (``tools/parity.compare``).
        Oracle answers are cached per input set and oracle text."""
        bad = dict(self.errors)
        con = None
        for key, got in self.results.items():
            sql = self.oracle.get(key)
            if sql is None:
                bad[key] = "no oracle"
                continue
            path = os.path.join(self.cache_dir, f"{key}-{_digest(sql)}.pkl")
            if os.path.exists(path):
                with open(path, "rb") as fh:
                    want = pickle.load(fh)
            else:
                con = con or duck_views(self.data_dir)
                want = con.execute(sql).df()
                os.makedirs(self.cache_dir, exist_ok=True)
                with open(path + ".tmp", "wb") as fh:
                    pickle.dump(want, fh)
                os.replace(path + ".tmp", path)
            err = compare(got, want)
            if err:
                bad[key] = err
        return bad


def _phases(df) -> dict[str, float]:
    """Planning-phase durations (ms) from the DataFrame's own query
    execution; forcing ``executedPlan`` runs optimization and planning."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out


def _digest(text: str) -> str:
    import hashlib

    return hashlib.sha256(text.encode()).hexdigest()[:12]


def duck_views(data_dir: str) -> duckdb.DuckDBPyConnection:
    from mongo_to_parquet_spark.sources.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


class _JobLog(logging.Handler):
    """Keeps the export job log's START/END lines with their timestamps."""

    def __init__(self):
        super().__init__(logging.INFO)
        self.records: list[tuple[float, str]] = []

    def emit(self, record):
        self.records.append((record.created, record.getMessage()))


class ExportWorkload:
    """One op = one in-process call of the export CLI over the whole dump.
    A round runs the ``full`` config (no date range: missing dates go to
    ``year=unknown``) and the ``ranged`` one (inclusive start/end that cuts
    part of ``ledger`` and every undated document), in seeded order."""

    keys = ("full", "ranged")

    def __init__(self, dump_dir: str, manifest: dict, run_dir: str, date_range):
        self.dump_dir = dump_dir
        self.manifest = manifest
        self.run_dir = run_dir
        self.range = date_range
        self.n = 0
        self.bad: dict[str, str] = {}
        self.joblog = None
        self._infer = None

    def _config(self, kind: str, out: str) -> str:
        cfg = {"output_dir": out, "date_collections": DATE_FIELDS}
        if kind == "ranged":
            cfg["start_date"] = self.range[0].isoformat()
            cfg["end_date"] = self.range[1].isoformat()
        path = os.path.join(self.run_dir, f"{kind}.json")
        with open(path, "w") as fh:
            json.dump(cfg, fh)
        return path

    def warmup(self, spark, order) -> None:
        """First pass: both configs, checked like every timed op."""
        from spans import Tracer

        for kind in order:
            self.op(spark, kind, Tracer(False))

    def instrument(self, tracer) -> None:
        """Traced run: capture the job log and time schema inference."""
        from mongo_to_parquet_spark.sources import extjson

        self.joblog = _JobLog()
        log = logging.getLogger("mongo_to_parquet")
        log.setLevel(logging.INFO)
        log.addHandler(self.joblog)
        self._infer = extjson.infer_extjson_schema

        def timed_infer(spark, path, *a, **kw):
            with tracer.span("extjson.infer", path=os.path.basename(path)):
                return self._infer(spark, path, *a, **kw)

        extjson.infer_extjson_schema = timed_infer

    def uninstrument(self) -> None:
        from mongo_to_parquet_spark.sources import extjson

        if self._infer is not None:
            extjson.infer_extjson_schema = self._infer
            logging.getLogger("mongo_to_parquet").removeHandler(self.joblog)

    def op(self, spark, kind: str, tracer) -> dict:
        from mongo_to_parquet_spark.__main__ import main

        self.n += 1
        out = os.path.join(self.run_dir, "out", f"op-{self.n}")
        cfg = self._config(kind, out)
        argv = ["--config", cfg, "--source-dir", self.dump_dir, "--source-format", "mongoexport"]
        buf = io.StringIO()
        mark = len(self.joblog.records) if self.joblog else 0
        t0 = time.perf_counter()
        with tracer.span("export.main", kind=kind) as sp, contextlib.redirect_stdout(buf):
            rc = main(argv)
        lat = time.perf_counter() - t0
        rec = {"key": kind, "lat": lat}
        if self.joblog and sp is not None:
            rec["collections"] = self._collections(tracer, sp.sid, mark)
        # untimed: check the totals and the written layout, then delete it
        rec.update(self._verify(kind, rc, buf.getvalue(), out))
        shutil.rmtree(out, ignore_errors=True)
        return rec

    def _collections(self, tracer, parent: int, mark: int) -> dict[str, float]:
        starts, spans = {}, {}
        for ts, msg in self.joblog.records[mark:]:
            word, _, rest = msg.partition(" ")
            coll = rest.split(" |", 1)[0]
            if word == "START":
                starts[coll] = ts
            elif word == "END" and coll in starts:
                tracer.add("collection", starts[coll], ts, parent, coll=coll)
                spans[coll] = ts - starts[coll]
        return spans

    def _verify(self, kind: str, rc: int, stdout: str, out: str) -> dict:
        want = self.manifest["expect"][kind]
        rec = {"ok": False, "rows": 0, "unknown": 0, "files": 0, "bytes": 0}
        try:
            totals = json.loads(stdout.strip().splitlines()[-1])["rows_written"]
        except (IndexError, ValueError, KeyError):
            self.bad[kind] = f"export printed no totals (rc={rc})"
            return rec
        for coll in COLLECTIONS:
            exp = want[coll]
            if totals.get(coll) != sum(exp.values()):
                self.bad[kind] = f"{coll}: returned {totals.get(coll)} rows, manifest {sum(exp.values())}"
                return rec
            got = _year_counts(os.path.join(out, coll), bool(DATE_FIELDS[coll]))
            if got != exp:
                self.bad[kind] = f"{coll}: re-read per-year counts {got} != manifest {exp}"
                return rec
            rec["unknown"] += got.get("unknown", 0)
        for dirpath, _dirs, files in os.walk(out):
            for f in files:
                if f.endswith(".parquet"):
                    rec["files"] += 1
                    rec["bytes"] += os.path.getsize(os.path.join(dirpath, f))
        rec["rows"] = sum(totals.values())
        rec["ok"] = rc == 0
        return rec

    def scan_pass(self, spark, tracer) -> float:
        """Traced run (after ``instrument``): a scan-only pass of the dump
        to ``noop``, with the schema inferred untimed."""
        total = 0.0
        for coll in COLLECTIONS:
            p = os.path.join(self.dump_dir, coll)
            schema = self._infer(spark, p)
            t0 = time.perf_counter()
            with tracer.span("extjson.scan", coll=coll):
                spark.read.format("mongoexport").schema(schema).load(p) \
                    .write.format("noop").mode("overwrite").save()
            total += time.perf_counter() - t0
        return total

    def check(self) -> dict[str, str]:
        return dict(self.bad)


def _year_counts(path: str, dated: bool) -> dict[str, int]:
    con = duckdb.connect()
    try:
        if not dated:
            n = con.execute(f"SELECT count(*) FROM read_parquet('{path}/*.parquet')").fetchone()[0]
            return {"": n}
        rows = con.execute(
            f"SELECT year, count(*) FROM read_parquet('{path}/*/*.parquet', "
            "hive_partitioning = true, hive_types_autocast = false) GROUP BY year"
        ).fetchall()
        return {str(y): n for y, n in rows}
    finally:
        con.close()
