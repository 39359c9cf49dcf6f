"""The benchmark's workloads as passes of timed ops.

An op is one timed call into the program's public functions: a query
row's fn call plus ``collect``, one index or table write call, or one
table load. Each op may carry an untimed ``pre`` (fresh inputs for a
write) and an untimed ``check`` of its output; a raised exception in any
of the three counts the op as failed. Ops that depend on each other (an
index write, then its probes and append) form a unit; a pass runs every
unit once, in an order drawn from the seed.

Frames are rebuilt in ``attach`` after every session (re)start, because
a DataFrame is bound to the session that made it.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
from collections.abc import Callable
from dataclasses import dataclass, field
from functools import partial

import airflow_fake

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
MEMBERSHIP = os.path.join(HERE, "workloads.json")


@dataclass
class Op:
    name: str
    run: Callable[[], object]
    check: Callable[[object], None] = lambda out: None
    pre: Callable[[], None] | None = None
    rerun: bool = False


@dataclass
class Ctx:
    """What every workload needs: the session, the tracer, the run's
    scratch directory inside the checkout, and the seed."""

    spark: object
    tracer: object
    run_dir: str
    seed: int
    # per-layer counts that need no tracing (server pages, bytes written),
    # summed over counted passes only
    counting: bool = False
    counts: dict = field(default_factory=dict)
    planning_ms: list = field(default_factory=list)

    def bump(self, key: str, n: float) -> None:
        if self.counting:
            self.counts[key] = self.counts.get(key, 0) + n


def membership() -> dict:
    with open(MEMBERSHIP, encoding="utf-8") as f:
        return json.load(f)


def _dir_size(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def _landing_rows(path: str) -> int:
    """Rows in a JSON landing directory, one per non-empty line of its
    part files, counted without Spark."""
    n = 0
    for name in os.listdir(path):
        if name.startswith("part-"):
            with open(os.path.join(path, name), "rb") as f:
                n += sum(1 for line in f if line.strip())
    return n


def _stored_rows(path: str, column: str | None = None) -> int:
    """Rows of the parquet table at ``path`` (distinct values of
    ``column`` if given), read with pyarrow so a read-back check launches
    no Spark job."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    # Spark names partition directories after their columns, and the
    # index layouts partition by ``__cell``: only dot files and the commit
    # marker are skipped
    d = ds.dataset(path, format="parquet", partitioning="hive",
                   ignore_prefixes=[".", "_SUCCESS"])
    if column is None:
        return d.count_rows()
    return pc.count_distinct(d.to_table(columns=[column]).column(column)).as_py()


def _fingerprint(rows) -> list[tuple[str, ...]]:
    from tools.check_oracle import _canon

    return sorted(tuple(_canon(v) for v in r) for r in rows)


class Oracle:
    """DuckDB views over the benchmark's tables; compares a query row's
    output with its oracle SQL through ``tools/check_oracle``'s
    canonicalisation."""

    def __init__(self):
        import duckdb

        from tools.check_oracle import TABLES

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{DATA_DIR}/{t}.parquet')"
            )

    def scalar(self, sql: str):
        return self.con.sql(sql).fetchone()[0]

    def check(self, spark, name: str, df, rows) -> None:
        from tools.check_oracle import _canon_frame

        from cs_tutorial_reporting_spark.queries import QUERIES

        sql = QUERIES[name].oracle
        if sql is None:
            raise AssertionError(f"{name}: no oracle")
        # the collected rows, converted the way toPandas converts the frame
        spdf = spark.createDataFrame(rows, df.schema).toPandas()
        ddf = self.con.sql(sql).fetchdf()
        if sorted(spdf.columns) != sorted(ddf.columns):
            raise AssertionError(f"{name}: columns {sorted(spdf.columns)} != {sorted(ddf.columns)}")
        if len(spdf) != len(ddf):
            raise AssertionError(f"{name}: {len(spdf)} rows, oracle {len(ddf)}")
        if _canon_frame(spdf) != _canon_frame(ddf):
            raise AssertionError(f"{name}: values differ from the oracle")


class QueryBoard:
    """Board rows of both query families run as ``fn(spark,
    sf_dir).collect()``, plus their table and index write ops.

    - ``report_sql`` family: star-schema and ``events`` rows, the
      Z-ordered write and the deletion-vector delete;
    - ``llm_curation`` family: ``documents``/``embeddings`` rows plus the
      IVF-PQ and MinHash band-index lifecycles; the seed splits the
      corpus from the probe batch and picks the appended batches.

    Each row is checked once per run against its DuckDB oracle (on the
    warm-up pass); later runs of the row must give the same canonical
    rows. Write ops are checked by read-back counts."""

    #: counted passes a run makes at least, whatever ``--seconds`` says
    min_passes = 3

    def __init__(self, ctx: Ctx):
        from cs_tutorial_reporting_spark.queries_dv import P1

        self.ctx = ctx
        families = membership()["workloads"]["query_board"]["families"]
        self.oracle = Oracle()
        self.verified: dict[str, object] = {}
        self.units = [partial(self._query_op, r) for f in families.values() for r in f["rows"]]
        self.units += [self._zorder_op, self._dv_op, self._ivfpq_ops, self._band_ops]
        self.passes = 0
        self.p1 = P1
        self.n_orders = self.oracle.scalar("SELECT count(*) FROM orders")
        self.n_p1 = self.oracle.scalar(f"SELECT count(*) FROM orders WHERE {P1}")
        self.n_lineitem = self.oracle.scalar("SELECT count(*) FROM lineitem")
        self.n: dict = {}
        self.probe_pairs: dict[str, int] = {}

    def _query_op(self, name: str) -> Op:
        from cs_tutorial_reporting_spark.queries import QUERIES

        ctx, fn = self.ctx, QUERIES[name].fn

        def run():
            with ctx.tracer.span("queries", "build"):
                df = fn(ctx.spark, DATA_DIR)
            with ctx.tracer.span("queries", "action"):
                rows = df.collect()
            return df, rows

        def check(out):
            df, rows = out
            if ctx.tracer.enabled:
                from spans import planning_ms

                ctx.planning_ms.append(planning_ms(df))
            fp = _fingerprint(rows)
            if name not in self.verified:
                self.verified[name] = None
                self.oracle.check(ctx.spark, name, df, rows)
                self.verified[name] = fp
            if self.verified[name] != fp:
                raise AssertionError(f"{name}: output differs from the oracle-checked run")

        return Op(name, run, check)

    def pass_ops(self) -> list[Op]:
        rng = random.Random(f"{self.ctx.seed}:{self.passes}")
        units = list(self.units)
        rng.shuffle(units)
        self.passes += 1
        ops: list[Op] = []
        for unit in units:
            made = unit()
            ops.extend(made if isinstance(made, list) else [made])
        return ops

    def finish(self, samples: list) -> dict:
        return {}

    def _path(self, stem: str) -> str:
        return os.path.join(self.ctx.run_dir, f"{stem}_{self.passes}")

    def _zorder_op(self) -> Op:
        from cs_tutorial_reporting_spark.sources.maintenance import write_zordered

        ctx, path = self.ctx, self._path("zorder")
        li = ctx.spark.read.parquet(f"{DATA_DIR}/lineitem.parquet").select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_shipdate", "l_quantity"
        )

        def run():
            with ctx.tracer.span("sources.maintenance", "write_zordered"):
                write_zordered(li, path, ["l_partkey", "l_suppkey"], n_files=8)

        def check(_):
            n = _stored_rows(path)
            shutil.rmtree(path, ignore_errors=True)
            if n != self.n_lineitem:
                raise AssertionError(f"write_zordered: read back {n} of {self.n_lineitem} rows")

        return Op("write_zordered", run, check)

    def _dv_op(self) -> Op:
        from cs_tutorial_reporting_spark.queries_dv import _fresh_versioned_orders
        from cs_tutorial_reporting_spark.sources.versioned import delete_where, read_version

        ctx = self.ctx
        table: dict[str, str] = {}

        def pre():
            # the board's own versioned orders table, made under TMPDIR
            table["path"] = _fresh_versioned_orders(ctx.spark, DATA_DIR)

        def run():
            with ctx.tracer.span("sources.versioned", "delete_where"):
                return delete_where(ctx.spark, table["path"], self.p1)

        def check(out):
            live = read_version(ctx.spark, table["path"]).count()
            shutil.rmtree(table["path"], ignore_errors=True)
            if out[1] != self.n_p1 or live != self.n_orders - self.n_p1:
                raise AssertionError(
                    f"delete_where: deleted {out[1]} (want {self.n_p1}), live {live}"
                )

        return Op("delete_where", run, check, pre=pre)

    def attach(self) -> None:
        from pyspark.sql import functions as F

        spark, seed = self.ctx.spark, self.ctx.seed
        e = spark.read.parquet(f"{DATA_DIR}/embeddings.parquet").select("vec_id", "embedding")
        docs = spark.read.parquet(f"{DATA_DIR}/documents.parquet").select("doc_id", "text")
        in_batch = F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(10)) == 0
        self.corpus = docs.filter(~in_batch)
        self.batch = docs.filter(in_batch)
        self.app_docs = self.corpus.orderBy(F.xxhash64("doc_id", F.lit(seed + 1))).limit(1000).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
        )
        self.vecs = e
        self.app_vecs = e.orderBy(F.xxhash64("vec_id", F.lit(seed))).limit(100).select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
        )
        if not self.n:
            self.n = {
                "vecs": e.count(),
                "app_vecs": self.app_vecs.count(),
                "corpus": self.corpus.count(),
                "app_docs": self.app_docs.count(),
                "batch_ids": {r[0] for r in self.batch.select("doc_id").collect()},
            }

    def _ivfpq_ops(self) -> list[Op]:
        from cs_tutorial_reporting_spark.operators.similarity import (
            append_to_ivfpq_layout,
            build_ivf_centroids,
            build_residual_pq_codebooks,
            write_ivfpq_partitioned,
        )

        ctx, n = self.ctx, self.n
        path = self._path("ivfpq")
        q: dict = {}

        def train():
            with ctx.tracer.span("operators.similarity", "build_quantizers"):
                q["c"] = build_ivf_centroids(self.vecs, n_centroids=16, dim=64, lloyd_iters=0)
                q["b"] = build_residual_pq_codebooks(self.vecs, q["c"], m=8, ks=16, dim=64)

        def check_train(_):
            if len(q["c"]) != 16 or len(q["b"]) != 8 or any(len(b) != 16 for b in q["b"]):
                raise AssertionError("build_quantizers: wrong codebook shape")

        def write():
            with ctx.tracer.span("operators.similarity", "write_ivfpq_partitioned"):
                write_ivfpq_partitioned(self.vecs, path, q["c"], q["b"])

        def append():
            with ctx.tracer.span("operators.similarity", "append_to_ivfpq_layout"):
                append_to_ivfpq_layout(self.app_vecs, path, q["c"], q["b"])

        def count_is(want: int, last: bool = False):
            def check(_):
                got = _stored_rows(path)
                if last:
                    shutil.rmtree(path, ignore_errors=True)
                if got != want:
                    raise AssertionError(f"ivfpq layout: read back {got} of {want} vectors")

            return check

        return [
            Op("build_quantizers", train, check_train),
            Op("write_ivfpq_partitioned", write, count_is(n["vecs"])),
            Op("append_to_ivfpq_layout", append, count_is(n["vecs"] + n["app_vecs"], last=True)),
        ]

    def _band_ops(self) -> list[Op]:
        from cs_tutorial_reporting_spark.operators.dedup import (
            append_to_band_index,
            probe_band_index,
            write_band_index,
        )

        ctx, n = self.ctx, self.n
        path = self._path("bandidx")
        bands = os.path.join(path, "bands")

        def write():
            with ctx.tracer.span("operators.dedup", "write_band_index"):
                write_band_index(self.corpus, path, "text", "doc_id")

        def probe(frame, call):
            def run():
                with ctx.tracer.span("operators.dedup", call):
                    return probe_band_index(ctx.spark, path, frame, "text", "doc_id").collect()

            return run

        def check_probe(call):
            def check(rows):
                bad = [r for r in rows if not (r[0] < r[1]) or
                       not ({r[0], r[1]} & n["batch_ids"])]
                if bad:
                    raise AssertionError(f"{call}: pairs outside the batch: {bad[:3]}")
                if self.probe_pairs.setdefault(call, len(rows)) != len(rows):
                    raise AssertionError(f"{call}: {len(rows)} pairs, earlier {self.probe_pairs[call]}")

            return check

        def append():
            with ctx.tracer.span("operators.dedup", "append_to_band_index"):
                append_to_band_index(self.app_docs, path, "text", "doc_id")

        def ids_are(want: int, last: bool = False):
            def check(_):
                got = _stored_rows(bands, "__id")
                if last:
                    shutil.rmtree(path, ignore_errors=True)
                if got != want:
                    raise AssertionError(f"band index: read back {got} of {want} documents")

            return check

        return [
            Op("write_band_index", write, ids_are(n["corpus"])),
            Op("probe_band_index", probe(self.batch, "probe_band_index"),
               check_probe("probe_band_index")),
            Op("append_to_band_index", append, ids_are(n["corpus"] + n["app_docs"], last=True)),
        ]


class EltIncremental:
    """The reference's job: EP1–EP3 against a loopback Airflow fake whose
    history grows one batch per step. One op is one table load. A step
    loads the three tables, then re-runs two loads with no new API rows
    (cleared tasks), which must append nothing: ``rpt_dag``, kept clean by
    its PK alone, and ``rpt_task_instance``, append-only, kept clean by the
    watermark alone. Every step has the same five ops, so every seed runs
    the same op mix, and with an odd number of op kinds the median op
    falls inside one kind rather than between two."""

    TABLES = ("rpt_dag", "rpt_dag_run", "rpt_task_instance")
    #: counted steps a run makes at least, whatever ``--seconds`` says
    min_passes = 2

    def __init__(self, ctx: Ctx):
        from cs_tutorial_reporting_spark.sources.airflow_rest import DEFAULT_BATCH_SIZE

        self.ctx = ctx
        self.history = airflow_fake.AirflowHistory(ctx.seed)
        self.expected = airflow_fake.ExpectedWarehouse()
        self.api = airflow_fake.FakeAirflowApi(
            {
                airflow_fake.ENTITIES[t]: airflow_fake.BATCH_SIZE[t] or DEFAULT_BATCH_SIZE
                for t in self.TABLES
            }
        )
        self.api.publish(self.history)
        self.wh = os.path.join(ctx.run_dir, "warehouse")
        self.landing = os.path.join(ctx.run_dir, "landing")
        self.passes = 0

    def attach(self) -> None:
        from cs_tutorial_reporting_spark.sources.airflow_rest import AirflowRestDataSource

        self.ctx.spark.dataSource.register(AirflowRestDataSource)

    @staticmethod
    def wire_schema(table: str):
        """The API's wire types: JSON numbers stay numbers; timestamps,
        booleans and bytes arrive as strings and are cast by the load."""
        from pyspark.sql import types as T

        from cs_tutorial_reporting_spark.schemas import RPT_TABLES

        stringly = (T.TimestampType, T.BooleanType, T.BinaryType)
        return T.StructType(
            [
                T.StructField(f.name, T.StringType() if isinstance(f.dataType, stringly) else f.dataType)
                for f in RPT_TABLES[table].fields
            ]
        )

    def _warehouse_state(self, table: str) -> tuple[int, bool]:
        """Rows in the warehouse table and whether its PK is unique."""
        import pyarrow.dataset as ds

        path = os.path.join(self.wh, table)
        if not os.path.isdir(path):
            return 0, True
        pk = list(airflow_fake.PK[table])
        t = ds.dataset(path, format="parquet").to_table(columns=pk or [])
        if not pk:
            return t.num_rows, True
        keys = set(zip(*(t.column(c).to_pylist() for c in pk)))
        return t.num_rows, len(keys) == t.num_rows

    def pass_ops(self) -> list[Op]:
        if self.passes > 0:
            self.history.advance(self.expected.watermarks())
            self.api.publish(self.history)
        self.passes += 1
        run_ts = f"step{self.history.step:05d}"
        return [self._load_op(t, run_ts, False) for t in self.TABLES] + [
            self._load_op(t, run_ts, True) for t in ("rpt_dag", "rpt_task_instance")
        ]

    def _load_op(self, table: str, run_ts: str, rerun: bool) -> Op:
        from cs_tutorial_reporting_spark.plans.pipeline import load_report_table
        from cs_tutorial_reporting_spark.sources.readers import (
            read_json_array,
            read_parquet_table,
        )
        from cs_tutorial_reporting_spark.sources.sinks import (
            write_json_landing,
            write_table_append,
        )

        ctx, tr = self.ctx, self.ctx.tracer
        wh = os.path.join(self.wh, table)
        schema = self.wire_schema(table)
        batch_size = airflow_fake.BATCH_SIZE[table]
        before: dict = {}

        def pre():
            before["rows"], _ = self._warehouse_state(table)
            before["wh"] = _dir_size(wh)
            before["api"] = self.api.counters()

        def run():
            with tr.span("sources.airflow_rest", "plan_probe"):
                reader = (
                    ctx.spark.read.format("airflow_rest")
                    .schema(schema)
                    .option("path", self.api.url)
                    .option("entity", airflow_fake.ENTITIES[table])
                )
                if batch_size is not None:
                    reader = reader.option("batch_size", batch_size)
                incoming = reader.load()
            with tr.span("sources.sinks", "write_json_landing"):
                landing = write_json_landing(incoming, os.path.join(self.landing, table), run_ts)
            existing = None
            if os.path.isdir(wh):
                with tr.span("sources.readers", "read_parquet_table"):
                    existing = read_parquet_table(ctx.spark, wh)
            with tr.span("plans.pipeline", "load_report_table"):
                res = load_report_table(incoming, existing, table)
            with tr.span("sources.sinks", "write_table_append"):
                write_table_append(res.loaded, wh)
            return landing

        def check(landing):
            api_rows = self.history.rows(table)
            want = self.expected.load(table, api_rows)
            rows, pk_unique = self._warehouse_state(table)
            got = rows - before["rows"]
            api = self.api.counters()
            ctx.bump("elt.rows_loaded", got)
            ctx.bump("sources.airflow_rest.pages", api["pages"] - before["api"]["pages"])
            ctx.bump("sources.airflow_rest.probes", api["probes"] - before["api"]["probes"])
            ctx.bump("sources.airflow_rest.rows_read", api["rows_read"] - before["api"]["rows_read"])
            files, size = _dir_size(wh)
            lfiles, lsize = _dir_size(landing)
            ctx.bump("sources.sinks.files_written", files - before["wh"][0] + lfiles)
            ctx.bump("sources.sinks.bytes_written", size - before["wh"][1] + lsize)
            landed = _landing_rows(landing)
            ctx.bump("sources.sinks.landing_rows_written", landed)
            # read back through the landing reader; the count is recorded,
            # not checked: write_json_landing writes one object per line
            # while read_json_array parses each file as one JSON array, so
            # the count read back is about one row per file
            ctx.bump(
                "sources.readers.landing_rows_read_back",
                read_json_array(ctx.spark, landing, schema).count(),
            )
            if landed != len(api_rows):
                raise AssertionError(f"landing {table}: {landed} rows, extracted {len(api_rows)}")
            if got != want or rows != self.expected.rows[table]:
                raise AssertionError(f"load {table}: appended {got}, expected {want}")
            if not pk_unique:
                raise AssertionError(f"load {table}: duplicate primary keys")
            if rerun and got != 0:
                raise AssertionError(f"rerun of {table} appended {got} rows")

        return Op(f"{'rerun' if rerun else 'load'}_{table}", run, check, pre=pre, rerun=rerun)

    def finish(self, samples: list) -> dict:
        """The ELT-only end-to-end metrics over the counted ``samples``."""
        _, wh_bytes = _dir_size(self.wh)
        _, landing_bytes = _dir_size(self.landing)
        reruns = [dt for op, dt, _ in samples if op.rerun]
        return {
            "elt.rows_loaded_per_s": self.ctx.counts.get("elt.rows_loaded", 0)
            / sum(dt for _, dt, _ in samples),
            "elt.rerun_s_p50": statistics.median(reruns),
            "elt.stored_bytes_per_row": (wh_bytes + landing_bytes)
            / sum(self.expected.rows.values()),
        }

    def close(self) -> None:
        self.api.close()


WORKLOADS = {
    "elt_incremental": EltIncremental,
    "query_board": QueryBoard,
}
