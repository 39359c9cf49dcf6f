"""Seeded Airflow history and a loopback fake of the Airflow v1 REST API.

``AirflowHistory`` grows one batch per step and keeps the API's current
state (dags, dag runs, task instances) as wire-format dicts: ISO-8601
timestamp strings and ``'True'``/``'False'`` boolean strings, the way the
reference's extractor stringified them. Each batch carries the edge rows
of the reference-parity fixtures, at scale:

- new rows whose ``start_date`` equals the warehouse watermark exactly
  (excluded by the strict ``>`` filter);
- queued runs and task instances with a NULL ``start_date``;
- runs re-extracted with a later ``start_date`` whose PK already exists
  (rejected by the PK anti-join; the append-only task table keeps the
  new try);
- late rows older than the watermark.

``ExpectedWarehouse`` replays the engine's load semantics in plain Python
(watermark = max loaded ``start_date``, strict ``>``, NULL never passes,
PK dedup within the batch and against the table, no dedup for task
instances) and so gives the row count each load must append.

``FakeAirflowApi`` serves the state on ``127.0.0.1`` from one server
thread. Page bodies for every ``limit``/``offset`` window and the
``total_entries`` probe are rendered in ``publish`` before the timed
region, so a request costs a dict lookup and a socket write.
"""

from __future__ import annotations

import datetime as dt
import json
import random
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlparse

#: API entity per warehouse table (the ``entity`` option of the source).
ENTITIES = {
    "rpt_dag": "dags",
    "rpt_dag_run": "dagRuns",
    "rpt_task_instance": "taskInstances",
}
PAYLOAD_KEYS = {"dags": "dags", "dagRuns": "dag_runs", "taskInstances": "task_instances"}
PK = {"rpt_dag": ("dag_id",), "rpt_dag_run": ("dag_run_id", "dag_id"), "rpt_task_instance": ()}
WATERMARKED = ("rpt_dag_run", "rpt_task_instance")
#: rows per API page as the reference extracts each table: the extract
#: operator's default batch (None: the reader's own default, 1,000 rows)
#: and 10,000 for dag runs (reporting_dag.py:87)
BATCH_SIZE = {"rpt_dag": None, "rpt_dag_run": 10_000, "rpt_task_instance": None}

# The history's size and pace. The reference publishes no figures for
# them (its only sizing facts are the batch sizes above), so these are
# chosen, not sourced: a few dozen DAGs whose first load finds ten days
# of runs, enough rows that the task-instance table spans several pages.
T0 = dt.datetime(2024, 1, 1)
#: DAGs at the start; each step adds one with probability NEW_DAG_P
N_DAGS = 40
NEW_DAG_P = 0.3
#: chance per step that a DAG changes and is re-extracted under its PK
CHANGED_DAG_P = 0.3
#: steps of history before the first load
INITIAL_STEPS = 40
#: the time window one step covers
STEP = dt.timedelta(hours=6)
#: share of the DAGs that run in a step
RUNNING_SHARE = 1 / 3


def _iso(t: dt.datetime | None) -> str | None:
    return None if t is None else t.strftime("%Y-%m-%dT%H:%M:%S+00:00")


def _parse(s: str | None) -> dt.datetime | None:
    return None if s is None else dt.datetime.strptime(s[:19], "%Y-%m-%dT%H:%M:%S")


def _b(rng: random.Random, p: float) -> str:
    return "True" if rng.random() < p else "False"


class AirflowHistory:
    """API state that grows by one seeded batch per ``advance()``."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.dags: dict[str, dict] = {}
        self.runs: dict[tuple[str, str], dict] = {}
        self.tis: list[dict] = []
        self.step = 0
        self._run_seq = 0
        for _ in range(N_DAGS):
            self._new_dag()
        # the history the first load finds: several windows of runs
        for _ in range(INITIAL_STEPS):
            self.step += 1
            self._grow(watermarks=None)

    def _new_dag(self) -> None:
        i = len(self.dags)
        rng = self.rng
        self.dags[f"dag_{i:04d}"] = {
            "dag_id": f"dag_{i:04d}",
            "is_paused": _b(rng, 0.1),
            "is_subdag": "False",
            "is_active": _b(rng, 0.9),
            "fileloc": f"/usr/local/airflow/dags/dag_{i:04d}.py",
            "file_token": f"tok{rng.getrandbits(48):012x}",
            "owners": rng.choice(["airflow", "data-eng", "analytics"]),
            "description": rng.choice([None, "", f"pipeline {i}"]),
            "root_dag_id": None,
            "schedule_interval": rng.choice(["@daily", "@hourly", "0 * * * *", None]),
            "n_tasks": rng.randint(2, 6),
        }

    def _window(self) -> tuple[dt.datetime, dt.datetime]:
        lo = T0 + self.step * STEP
        return lo, lo + STEP

    def _rand_ts(self, lo: dt.datetime, hi: dt.datetime) -> dt.datetime:
        return lo + dt.timedelta(
            seconds=self.rng.randrange(1, int((hi - lo).total_seconds()))
        )

    def _add_tis(self, run: dict, start: dt.datetime | None) -> None:
        dag = self.dags[run["dag_id"]]
        t = start
        for k in range(dag["n_tasks"]):
            if t is not None:
                t = t + dt.timedelta(seconds=self.rng.randrange(1, 300))
            dur = None if t is None else float(self.rng.randrange(5, 900))
            self.tis.append(
                {
                    "dag_id": run["dag_id"],
                    "task_id": f"task_{k}",
                    "execution_date": run["execution_date"],
                    "start_date": _iso(t),
                    "end_date": None if t is None else _iso(t + dt.timedelta(seconds=dur)),
                    "duration": dur,
                    "state": "success" if t is not None else "scheduled",
                    "try_number": 1,
                    "max_tries": 3,
                    "hostname": f"worker-{self.rng.randrange(4)}",
                    "unixname": "airflow",
                    "pool": "default_pool",
                    "pool_slots": 1,
                    "queue": "default",
                    "priority_weight": self.rng.randrange(1, 10),
                    "operator": self.rng.choice(["PythonOperator", "BashOperator"]),
                    "queued_when": run["execution_date"],
                    "pid": self.rng.randrange(100, 60000) if t is not None else None,
                    "executor_config": None,
                }
            )

    def _new_run(self, dag_id: str, start: dt.datetime | None) -> dict:
        self._run_seq += 1
        lo, _ = self._window()
        run = {
            "dag_id": dag_id,
            "dag_run_id": f"scheduled__{self._run_seq:07d}",
            "end_date": None if start is None else _iso(start + dt.timedelta(minutes=30)),
            "execution_date": _iso(lo),
            "external_trigger": _b(self.rng, 0.2),
            "logical_date": _iso(lo),
            "start_date": _iso(start),
            "state": "success" if start is not None else "queued",
        }
        self.runs[(run["dag_run_id"], dag_id)] = run
        self._add_tis(run, start)
        return run

    def _grow(self, watermarks: dict | None) -> None:
        """One batch. ``watermarks`` (table → loaded max start_date) places
        the boundary rows; the initial history passes None."""
        rng = self.rng
        lo, hi = self._window()
        if rng.random() < NEW_DAG_P:
            self._new_dag()
        if rng.random() < CHANGED_DAG_P:
            # a changed dag is re-extracted under its existing PK
            d = self.dags[rng.choice(sorted(self.dags))]
            d["is_paused"] = "False" if d["is_paused"] == "True" else "True"
        dag_ids = sorted(self.dags)
        for dag_id in rng.sample(dag_ids, k=max(1, round(len(dag_ids) * RUNNING_SHARE))):
            self._new_run(dag_id, self._rand_ts(lo, hi))
        # queued: NULL start_date on the run and its task instances
        self._new_run(rng.choice(dag_ids), None)
        queued = [r for r in self.runs.values() if r["start_date"] is None]
        if len(queued) > 1:
            # the oldest queued run starts now: new to the warehouse unless
            # the first full load took it while it was still queued
            r = queued[0]
            start = self._rand_ts(lo, hi)
            r.update(start_date=_iso(start), state="success",
                     end_date=_iso(start + dt.timedelta(minutes=5)))
            self._add_tis(r, start)
        if watermarks is None:
            return
        # boundary rows: new PKs exactly at the watermark (strict > drops them)
        run = self._new_run(rng.choice(dag_ids), watermarks["rpt_dag_run"])
        self.tis[-1]["start_date"] = _iso(watermarks["rpt_task_instance"])
        # a loaded run is cleared and re-run: PK exists, start_date > wm
        loaded = [r for r in self.runs.values()
                  if r["start_date"] is not None and r is not run
                  and _parse(r["start_date"]) < watermarks["rpt_dag_run"]]
        r = rng.choice(loaded)
        start = self._rand_ts(lo, hi)
        r.update(start_date=_iso(start), state="success")
        self._add_tis(r, start)
        # a late task instance, older than the watermark
        self._add_tis(rng.choice(loaded), watermarks["rpt_task_instance"] - dt.timedelta(hours=1))
        self.tis[-1]["try_number"] = 2

    def advance(self, watermarks: dict) -> None:
        self.step += 1
        self._grow(watermarks)

    def rows(self, table: str) -> list[dict]:
        if table == "rpt_dag":
            return [{k: v for k, v in d.items() if k != "n_tasks"} for d in self.dags.values()]
        if table == "rpt_dag_run":
            return list(self.runs.values())
        return list(self.tis)


class ExpectedWarehouse:
    """Plain-Python replay of the engine's EP1–EP3 load semantics."""

    def __init__(self):
        self.rows = {t: 0 for t in ENTITIES}
        self.keys: dict[str, set] = {t: set() for t in ENTITIES}
        self.wm: dict[str, dt.datetime | None] = {t: None for t in ENTITIES}
        self.loaded_once = {t: False for t in ENTITIES}

    def load(self, table: str, api_rows: list[dict]) -> int:
        """Apply one load; returns the rows it appends."""
        first = not self.loaded_once[table]
        rows = api_rows
        if table in WATERMARKED and not first and self.wm[table] is not None:
            wm = self.wm[table]
            rows = [r for r in rows if r["start_date"] is not None
                    and _parse(r["start_date"]) > wm]
        pk = PK[table]
        if pk:
            seen = set() if first else self.keys[table]
            kept, batch = [], set()
            for r in rows:
                k = tuple(r[c] for c in pk)
                if k in seen or k in batch:
                    continue
                batch.add(k)
                kept.append(r)
            rows = kept
            self.keys[table] |= batch
        starts = [_parse(r["start_date"]) for r in rows
                  if table in WATERMARKED and r["start_date"] is not None]
        if starts:
            cur = self.wm[table]
            self.wm[table] = max(starts) if cur is None else max(cur, max(starts))
        self.rows[table] += len(rows)
        self.loaded_once[table] = True
        return len(rows)

    def watermarks(self) -> dict:
        return dict(self.wm)


class _Handler(BaseHTTPRequestHandler):
    def do_GET(self):  # noqa: N802 (http.server API)
        api: FakeAirflowApi = self.server.api
        u = urlparse(self.path)
        entity = u.path.rsplit("/", 1)[-1]
        q = parse_qs(u.query)
        body = api.body(entity, int(q.get("limit", ["100"])[0]),
                        int(q.get("offset", ["0"])[0]))
        if body is None:
            self.send_error(404)
            return
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):
        pass


class FakeAirflowApi:
    """Airflow v1 ``/api/v1/<entity>?limit=&offset=`` on a loopback port."""

    def __init__(self, page_limits: dict[str, int]):
        #: rows per page for each entity, as its reader asks for them
        self.page_limits = page_limits
        self._bodies: dict[tuple[str, int, int], bytes] = {}
        self._rows_per_body: dict[tuple[str, int, int], int] = {}
        self._lock = threading.Lock()
        self.pages = 0
        self.probes = 0
        self.rows_served = 0
        self._srv = HTTPServer(("127.0.0.1", 0), _Handler)
        self._srv.api = self
        self._thread = threading.Thread(target=self._srv.serve_forever, daemon=True)
        self._thread.start()

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self._srv.server_address[1]}"

    def publish(self, history: AirflowHistory) -> None:
        """Pre-render every page body of the current API state."""
        bodies, counts = {}, {}
        for table, entity in ENTITIES.items():
            rows = history.rows(table)
            key = PAYLOAD_KEYS[entity]
            total = len(rows)
            probe = {key: rows[:1], "total_entries": total}
            bodies[(entity, 1, 0)] = json.dumps(probe).encode()
            counts[(entity, 1, 0)] = -1
            limit = self.page_limits[entity]
            for off in range(0, max(total, 1), limit):
                page = rows[off : off + limit]
                k = (entity, limit, off)
                bodies[k] = json.dumps({key: page, "total_entries": total}).encode()
                counts[k] = len(page)
        with self._lock:
            self._bodies, self._rows_per_body = bodies, counts

    def body(self, entity: str, limit: int, offset: int) -> bytes | None:
        k = (entity, limit, offset)
        with self._lock:
            b = self._bodies.get(k)
            n = self._rows_per_body.get(k, 0)
            if n < 0:
                self.probes += 1
            elif b is not None:
                self.pages += 1
                self.rows_served += n
        return b

    def counters(self) -> dict[str, int]:
        with self._lock:
            return {"pages": self.pages, "probes": self.probes, "rows_read": self.rows_served}

    def close(self) -> None:
        self._srv.shutdown()
        self._srv.server_close()
        self._thread.join(timeout=10)
