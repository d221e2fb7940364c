"""The four benchmark workloads.

Each workload owns a directory under the benchmark's work dir and
goes through the same steps; only ``op`` runs inside the clock:

- ``generate()``: seeded inputs and expectations, no Spark;
- ``prepare(spark)``: the state a previous run left behind (prior
  snapshot, sqlite table, partitioned history);
- ``warm(spark)``: one untimed operation, so the timed ones run with
  code generated and the JIT warm; for the query mixes this pass also
  collects every result and checks it against the DuckDB oracle;
- ``reset()`` before and ``check()`` after every timed operation.

Why each workload exists is recorded in ``perfbench/README.md``.
"""

from __future__ import annotations

import datetime as dt
import gc
import os
import shutil
import sqlite3
import time

from pyspark.accumulators import AccumulatorParam

from etl_python_azure_spark.functions import cleaning
from etl_python_azure_spark.operators import joins
from etl_python_azure_spark.plans import latinad, sercom
from etl_python_azure_spark.queries import registry
from etl_python_azure_spark.sinks import files as sink_files
from etl_python_azure_spark.sinks import jdbc as sink_jdbc
from etl_python_azure_spark.sources import rest

from perfbench import datagen
# the oracle gate's table list and order-insensitive row multiset
from scripts.oracle_check import TABLES, _rowset

RELATIONAL = [  # the HEADLINE list of bench.py
    "pricing_summary", "revenue_by_nation", "shipping_priority",
    "promo_revenue_by_supp_nation", "left_join_enrich", "cdc_split_updated",
    "top3_orders_per_segment", "sliding_window_refresh",
    "derived_surrogate_key", "grouping_sets_revenue",
    "corr_regression_qty_price", "outlier_orders_p95",
]
CORPUS = [
    "cc_cluster_sizes", "dedup_sidecar_equiv", "curation_drop_attribution",
    "embedding_cosine_pairs", "gopher_repetition_fractions",
]
TASK_DB_COLS = ["id", "state_name", "description", "updated_at"]
# the repository's sf0.01 test tables (TESTDATA.md), copied unchanged
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


class VecParam(AccumulatorParam):
    """Element-wise sum of fixed-length float lists."""

    def zero(self, value):
        return [0.0] * len(value)

    def addInPlace(self, a, b):
        return [x + y for x, y in zip(a, b)]


class ReplayTransport:
    """Serves pre-rendered API responses from disk.

    Each file holds ``<status>\\n<body>``; the engine receives only
    bytes. With *stats* (an accumulator of [calls, failed, seconds]),
    report requests are counted and timed on the executors.
    """

    def __init__(self, root: str, stats=None):
        self.root = root
        self.stats = stats

    def _file(self, url: str) -> str | None:
        path = url.split("://", 1)[-1].split("/", 1)[-1]
        name, _, query = path.partition("?")
        if name == "report":
            params = dict(p.split("=", 1) for p in query.split("&"))
            return f"report-{params['content']}"
        if name in ("displays", "contents", "tasks", "turns", "projects", "elements"):
            return name
        return None

    def __call__(self, url: str, headers: dict) -> tuple[int, str]:
        t0 = time.perf_counter()
        name = self._file(url)
        if name is None:
            status, body = 404, "not found"
        else:
            with open(os.path.join(self.root, name), encoding="utf-8") as fh:
                status = int(fh.readline())
                body = fh.read()
        if self.stats is not None and name and name.startswith("report-"):
            self.stats.add([1.0, float(status != 200), time.perf_counter() - t0])
        return status, body


class _CountingCursor:
    def __init__(self, cur, rows):
        self._cur, self._rows = cur, rows

    def executemany(self, sql, batch):
        self._rows.add(len(batch))
        return self._cur.executemany(sql, batch)


class _CountingConnection:
    def __init__(self, conn, rows):
        self._conn, self._rows = conn, rows

    def cursor(self):
        return _CountingCursor(self._conn.cursor(), self._rows)

    def commit(self):
        self._conn.commit()

    def close(self):
        self._conn.close()


class SqliteFactory:
    """Picklable DBAPI factory for ``jdbc_upsert``; a lock timeout keeps
    concurrent partitions waiting instead of failing. With *rows* (an
    int accumulator) it counts the rows sent through ``executemany``."""

    def __init__(self, path: str, rows=None):
        self.path, self.rows = path, rows

    def __call__(self):
        conn = sqlite3.connect(self.path, timeout=60)
        return conn if self.rows is None else _CountingConnection(conn, self.rows)


def collect_garbage(spark) -> None:
    """Full collection in the driver's Python and in the JVM, run at the
    end of every operation inside its clock: the operation pays for
    collecting its own garbage, and the next one starts from a collected
    heap, so its peak memory does not depend on how many operations ran
    before it (left alone, the JVM heap settles anywhere from 2.8 to
    3.9 GB on Latinad, run to run)."""
    gc.collect()
    spark._jvm.System.gc()


def _link_tree(src: str, dst: str) -> None:
    """Fresh copy of a seeded state; files are hard links (Spark never
    writes a file in place, it replaces whole files)."""
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst, copy_function=os.link)


def _data_files(path: str) -> list[str]:
    out = []
    for root, _dirs, names in os.walk(path):
        out += [os.path.join(root, n) for n in names
                if not n.startswith((".", "_")) and n.endswith(".parquet")]
    return sorted(out)


def _read_rows(path: str, columns: list[str] | None = None) -> list[tuple]:
    import pyarrow.dataset as ds

    tbl = ds.dataset(_data_files(path), format="parquet").to_table(columns=columns)
    names = columns or tbl.column_names
    cols = [tbl.column(n).to_pylist() for n in names]
    return list(zip(*cols))


def _file_digest(path: str) -> list[tuple]:
    import hashlib

    out = []
    for f in _data_files(path):
        with open(f, "rb") as fh:
            out.append((os.path.relpath(f, path), hashlib.sha1(fh.read()).hexdigest()))
    return out


class Workload:
    name = ""
    pipeline = False  # pipelines write sink files and are checked per op
    warm_ops = 2
    queries: list[str] = []  # registry queries a query mix runs

    def __init__(self, work: str, seed: int, scale: float, nproc: int, tracer):
        self.dir = os.path.join(work, self.name)
        self.seed, self.scale, self.nproc, self.tr = seed, scale, nproc, tracer
        self.warm_op_s: list[float] = []  # each warm op, resets and checks excluded
        os.makedirs(self.dir, exist_ok=True)

    def generate(self) -> None:
        pass

    def prepare(self, spark) -> None:
        pass

    def warm(self, spark) -> list[str]:
        """``warm_ops`` untimed, checked operations: the JIT keeps
        speeding the operation up for its first few runs after JVM
        start."""
        problems = []
        for _ in range(self.warm_ops):
            self.reset(spark)
            t0 = time.time()
            self.op(spark)
            collect_garbage(spark)
            self.warm_op_s.append(time.time() - t0)
            problems += self.check()
        return problems

    def reset(self, spark) -> None:
        pass

    def op(self, spark) -> None:
        raise NotImplementedError

    def check(self) -> list[str]:
        return []

    def output_rows_and_bytes(self) -> tuple[int, int]:
        return 0, 0

    def enable_counters(self, sc) -> None:
        """Traced run: count work in-band with accumulators."""

    def counters(self, n_ops: int) -> dict[str, float]:
        return {}


# --------------------------------------------------------------------------
# pipelines
# --------------------------------------------------------------------------


class LatinadRefresh(Workload):
    name = "latinad_refresh"
    pipeline = True
    URL = "http://latinad"

    def generate(self):
        s = self.scale
        self.payloads = os.path.join(self.dir, "api")
        self.facts = datagen.latinad_payloads(
            self.payloads, self.seed, n_displays=max(20, int(600 * s)),
            n_contents=max(20, int(500 * s)), rows_per_report=max(26, int(200 * s)))
        self.prior = datagen.latinad_prior_rows(
            self.seed, self.facts["content_ids"], self.facts["display_ids"],
            per_date=max(10, int(200 * s)))
        self.expected_rows = sorted(self.facts["rows"])
        self.stats = None  # report-request accumulator of a traced run

    def prepare(self, spark):
        """Seed the history table: stale rows on every window date and
        preserved rows before the window, one parquet file per date."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.pristine = os.path.join(self.dir, "prior", "contenido_data")
        by_date: dict[str, list[tuple]] = {}
        for row in self.prior:
            by_date.setdefault(row[4], []).append(row)
        schema = pa.schema([
            ("display", pa.int32()), ("content", pa.int32()), ("shows", pa.int32()),
            ("total_time", pa.float64()), ("impacts", pa.int32()),
            ("llave", pa.string()), ("content_name", pa.string()),
        ])
        for date, rows in by_date.items():
            cols = list(zip(*rows))
            tbl = pa.table([cols[0], cols[1], cols[2], cols[3], cols[5], cols[6],
                            cols[7]], schema=schema)
            part = os.path.join(self.pristine, f"Fecha={date}")
            os.makedirs(part)
            pq.write_table(tbl, os.path.join(part, "part-00000-prior.snappy.parquet"))
        self.preserved = {
            d: _file_digest(os.path.join(self.pristine, f"Fecha={d}"))
            for d in datagen.LATINAD_OLD_DATES
        }
        self.sink = os.path.join(self.dir, "sink")

    def reset(self, spark):
        spark.catalog.clearCache()
        _link_tree(os.path.dirname(self.pristine), self.sink)

    def op(self, spark):
        latinad.run_latinad(
            spark, ReplayTransport(self.payloads, self.stats), self.URL,
            sink_root=self.sink, window_start=dt.date(2024, 1, 1),
            window_end=dt.date(2024, 1, 28))

    def check(self) -> list[str]:
        problems = []
        data = os.path.join(self.sink, "contenido_data")
        cols = ["display", "content", "shows", "total_time", "Fecha", "impacts",
                "llave", "content_name"]
        got = sorted(r for r in _read_rows_partitioned(data, cols)
                     if r[4] in datagen.LATINAD_DATES)
        if got != self.expected_rows:
            problems.append(f"contenido_data window rows differ ({len(got)} vs "
                            f"{len(self.facts['rows'])} expected)")
        for d, digest in self.preserved.items():
            if _file_digest(os.path.join(data, f"Fecha={d}")) != digest:
                problems.append(f"partition Fecha={d} outside the window changed")
        ids = sorted(r[0] for r in _read_rows(os.path.join(self.sink, "display_info"), ["id"]))
        if ids != self.facts["display_ids"]:
            problems.append("display_info ids differ")
        rows = _read_rows(os.path.join(self.sink, "contenido_display"), ["id", "arch"])
        if sorted(r[0] for r in rows) != self.facts["content_ids"]:
            problems.append("contenido_display ids differ")
        if sum(1 for r in rows if r[1] == "") != self.facts["arch_blanked"]:
            problems.append("contenido_display arch gate differs")
        return problems

    def enable_counters(self, sc):
        self.stats = sc.accumulator([0.0, 0.0, 0.0], VecParam())

    def counters(self, n_ops):
        calls, failed, seconds = self.stats.value
        return {"sources.fanout_requests": calls / n_ops,
                "sources.fanout_failed": failed / n_ops,
                "sources.transport_s": seconds / n_ops}

    def output_rows_and_bytes(self):
        rows = len(self.facts["rows"]) + len(self.facts["display_ids"]) + len(
            self.facts["content_ids"]) + len(self.prior) - sum(
            1 for r in self.prior if r[4] in datagen.LATINAD_DATES)
        return rows, _tree_bytes(self.sink)


def _read_rows_partitioned(path: str, columns: list[str]) -> list[tuple]:
    """Rows of a table partitioned by a string ``Fecha`` column."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    part = ds.partitioning(pa.schema([("Fecha", pa.string())]), flavor="hive")
    tbl = ds.dataset(path, format="parquet", partitioning=part,
                     exclude_invalid_files=True).to_table(columns=columns)
    return list(zip(*[tbl.column(c).to_pylist() for c in columns]))


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _data_files(path))


class SercomUpsert(Workload):
    name = "sercom_upsert"
    pipeline = True
    URL = "http://sercom"

    def generate(self):
        s = self.scale
        self.payloads = os.path.join(self.dir, "api")
        self.facts = datagen.sercom_payloads(
            self.payloads, self.seed, n_tasks=max(200, int(10_000 * s)),
            n_turns=max(20, int(400 * s)), n_projects=max(10, int(100 * s)),
            n_elements=max(20, int(800 * s)))
        self.rows_acc = None  # jdbc row accumulators of a traced run

    def prepare(self, spark):
        """The previous run's outputs: the task snapshot and the three
        manifested tables (from the prior API state), and the sqlite
        task table."""
        pristine = os.path.join(self.dir, "prior")
        res = sercom.run_sercom(spark, ReplayTransport(self.payloads + "-prior"),
                                self.URL, sink_root=pristine)
        res.tasks.write.parquet(os.path.join(pristine, "task_snapshot"))
        self.pristine_db = os.path.join(self.dir, "prior.db")
        with sqlite3.connect(self.pristine_db) as c:
            c.execute("CREATE TABLE tasks (id INTEGER PRIMARY KEY, state_name TEXT,"
                      " description TEXT, updated_at TEXT)")
            c.executemany("INSERT INTO tasks VALUES (?, ?, ?, ?)",
                          self.facts["prior_rows"])
        c.close()
        self.pristine = pristine
        self.sink = os.path.join(self.dir, "sink")
        self.db = os.path.join(self.dir, "tasks.db")

    def reset(self, spark):
        spark.catalog.clearCache()
        _link_tree(self.pristine, self.sink)
        shutil.copyfile(self.pristine_db, self.db)

    def op(self, spark):
        from pyspark.sql import functions as F

        existing = spark.read.parquet(os.path.join(self.sink, "task_snapshot"))
        res = sercom.run_sercom(
            spark, ReplayTransport(self.payloads), self.URL,
            existing_tasks=existing.select("id", "updated_at"), sink_root=self.sink)
        merged = joins.merge_upsert(res.tasks, existing, key="id",
                                    version_col="updated_at")
        sink_files.full_refresh(merged, os.path.join(self.sink, "task_snapshot_next"))
        for half, acc in ((res.task_split.new, "new"), (res.task_split.updated, "updated")):
            rows = None if self.rows_acc is None else self.rows_acc[acc]
            sink_jdbc.jdbc_upsert(
                half.select(
                    "id", "state_name", "description",
                    F.date_format("updated_at", "yyyy-MM-dd HH:mm:ss").alias("updated_at")),
                "tasks", key_cols=["id"], update_cols=TASK_DB_COLS[1:],
                connection_factory=SqliteFactory(self.db, rows),
                num_partitions=1, dialect="upsert_sqlite")

    def check(self) -> list[str]:
        problems = []
        f = self.facts
        with sqlite3.connect(self.db) as c:
            got = sorted(c.execute("SELECT id, state_name, description, updated_at FROM tasks"))
        c.close()
        if got != f["expected_rows"]:
            problems.append(f"sqlite tasks differ ({len(got)} vs {len(f['expected_rows'])} rows)")
        prior = {r[0]: r for r in f["prior_rows"]}
        new = sum(1 for r in got if r[0] not in prior)
        updated = sum(1 for r in got if r[0] in prior and r != prior[r[0]])
        if (new, updated) != (f["n_new"], f["n_updated"]):
            problems.append(f"cdc counts new={new} updated={updated}, expected "
                            f"{f['n_new']}/{f['n_updated']}")
        snap = _read_rows(os.path.join(self.sink, "task_snapshot_next"), ["id", "updated_at"])
        snap = sorted((i, str(u)) for i, u in snap)
        if snap != [(r[0], r[3]) for r in f["expected_rows"]]:
            problems.append("task snapshot (id, updated_at) differs")
        for table, n in (("turns", f["n_turns"]), ("projects", f["n_projects"]),
                         ("elements", f["n_elements"])):
            if len(_read_rows(os.path.join(self.sink, table), ["id"])) != n:
                problems.append(f"{table} row count differs")
        if not os.path.exists(os.path.join(self.sink, "_manifest.json")):
            problems.append("manifest missing")
        return problems

    def enable_counters(self, sc):
        self.rows_acc = {"new": sc.accumulator(0), "updated": sc.accumulator(0)}

    def counters(self, n_ops):
        new, updated = self.rows_acc["new"].value, self.rows_acc["updated"].value
        return {"operators.cdc_new_rows": new / n_ops,
                "operators.cdc_updated_rows": updated / n_ops,
                "sinks.jdbc_rows": (new + updated) / n_ops}

    def output_rows_and_bytes(self):
        f = self.facts
        rows = len(f["expected_rows"]) + f["n_turns"] + f["n_projects"] + f["n_elements"]
        size = sum(_tree_bytes(os.path.join(self.sink, t)) for t in
                   ("task_snapshot_next", "turns", "projects", "elements"))
        return rows, size


# --------------------------------------------------------------------------
# query mixes
# --------------------------------------------------------------------------


class QueryMix(Workload):
    """The registry's builders over the repository's sf0.01 test tables;
    the same tables at every seed and scale."""

    def generate(self):
        import duckdb

        self.data = DATA_DIR
        reg = registry()
        self.builders = {q: reg[q].builder for q in self.queries}
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        self.expected = {}
        for q in self.queries:
            cur = con.execute(reg[q].oracle)
            self.expected[q] = _rowset(cur.fetchall(), [d[0] for d in cur.description])
        con.close()

    def warm(self, spark) -> list[str]:
        """Collect every query once and compare with its oracle, then
        run the mix ``warm_ops - 1`` more times untimed."""
        problems, spent = [], 0.0
        for q in self.queries:
            t0 = time.time()
            df = self.builders[q](spark, self.data)
            rows = df.collect()
            spark.catalog.clearCache()
            spent += time.time() - t0
            if _rowset(rows, df.columns) != self.expected[q]:
                problems.append(f"{q}: result differs from the DuckDB oracle")
        t0 = time.time()
        collect_garbage(spark)
        self.warm_op_s.append(spent + time.time() - t0)
        for _ in range(self.warm_ops - 1):
            t0 = time.time()
            self.op(spark)
            collect_garbage(spark)
            self.warm_op_s.append(time.time() - t0)
        return problems

    def op(self, spark):
        for q in self.queries:
            with self.tr.span(f"queries.{q}.build"):
                df = self.builders[q](spark, self.data)
            with self.tr.span(f"queries.{q}.exec"):
                df.write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()


class RelationalMix(QueryMix):
    name = "relational_mix"
    queries = RELATIONAL


class CorpusFolds(QueryMix):
    name = "corpus_folds"
    queries = CORPUS
    warm_ops = 1  # one cold pass is ~30 s; a second would double set-up


WORKLOADS = {w.name: w for w in (LatinadRefresh, SercomUpsert, RelationalMix, CorpusFolds)}


def _record_count(spark, records, *args, **kwargs) -> int:
    return len(records)


# layer functions the traced run wraps: (module, attribute, span name,
# count of the work a call receives, or None)
LAYER_FUNCTIONS = [
    ("etl_python_azure_spark.session", "load_tables", "session.load_tables", None),
    ("etl_python_azure_spark.session", "eager_checkpoint", "session.eager_checkpoint", None),
    (rest.__name__, "fetch_json", "sources.fetch_json", None),
    (rest.__name__, "paginated_fetch", "sources.paginated_fetch", None),
    (rest.__name__, "records_to_df", "sources.records_to_df", _record_count),
    (rest.__name__, "distributed_fetch", "sources.distributed_fetch", None),
    (rest.__name__, "parse_fetched_json", "sources.parse_fetched_json", None),
    (cleaning.__name__, "drop_all_null_columns", "functions.drop_all_null_columns", None),
    (joins.__name__, "cdc_split", "operators.cdc_split", None),
    (joins.__name__, "merge_upsert", "operators.merge_upsert", None),
    (sink_files.__name__, "full_refresh", "sinks.full_refresh", None),
    (sink_files.__name__, "ranged_overwrite", "sinks.ranged_overwrite", None),
    (sink_files.__name__, "multi_table_load", "sinks.multi_table_load", None),
    (sink_jdbc.__name__, "jdbc_upsert", "sinks.jdbc_upsert", None),
    (latinad.__name__, "run_latinad", "plans.latinad", None),
    (sercom.__name__, "run_sercom", "plans.sercom", None),
]
