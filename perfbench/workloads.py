"""The benchmark's workloads.  Each one makes its inputs from the seed,
registers its sources on a session, runs one closed-loop "run" of
public calls under a tracer, and checks its outputs (untimed).

A run's timed public calls ("queries") are spans with ``op=True``:
- catalog_sf001 / heavy_sf01: one named query, built then written to
  the ``noop`` sink;
- pco_pipeline: ``validate_pipeline(...).collect()`` and
  ``render_csv_outputs``;
- stream_replay, and the end of a catalog_sf001 run: one ``run_metered``
  drain of a streaming query (span kind ``stream``).
"""

from __future__ import annotations

import csv
import json
import os
import random
import shutil
import sys
import threading
import time
from pathlib import Path

from env import ROOT
from gen_pco import LIST_FILTER, AS_OF, RESOURCES, write_pco
from gen_tables import make_tables, write_tables
from spans import Tracer

# The fifteen heaviest named queries of the last full-suite timing run.
HEAVY = [
    "doc_jaccard_prefix_filter", "doc_jaccard_rare_prefix",
    "graph_components_minlabel", "graph_minhash_neighbors",
    "doc_dup_clusters", "graph_common_neighbors", "graph_pagerank_parts",
    "li_abc_xyz_matrix", "graph_triangle_count", "doc_minhash_lsh_portable",
    "graph_bipartite_kcore_rounds", "doc_lsh_recall_vs_exact",
    "graph_degree_assortativity", "ev_markov_stationary",
    "ev_entropy_rate_stationary",
]
REF_QUERIES = ["ref_count_validation", "ref_presentation", "ref_range_copy", "ref_semijoin_rename"]


def _crosscheck():
    """The correctness gate's result canonicalization and value hash."""
    tools = str(ROOT / "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import crosscheck

    return crosscheck


def stratified_sample(names: list[str], k: int, seed: int, always: list[str]) -> list[str]:
    """``always`` plus ``k - len(always)`` names drawn from ``names`` by
    family (the prefix before the first ``_``), each family's share of
    the draw proportional to its size (largest remainder)."""
    rng = random.Random(seed)
    rest = sorted(set(names) - set(always))
    fams: dict[str, list[str]] = {}
    for n in rest:
        fams.setdefault(n.split("_")[0], []).append(n)
    want = k - len(always)
    quota = {f: want * len(v) / len(rest) for f, v in fams.items()}
    take = {f: int(q) for f, q in quota.items()}
    by_rem = sorted(fams, key=lambda f: (take[f] - quota[f], rng.random()))
    for f in by_rem[: want - sum(take.values())]:
        take[f] += 1
    picked = list(always)
    for f in sorted(fams):
        picked += rng.sample(fams[f], take[f])
    rng.shuffle(picked)
    return picked


class Workload:
    name = ""
    # unmeasured runs between the checks and the measured runs, for a
    # workload whose checks do not already warm its calls
    warmups = 0

    def __init__(self, seed: int, work: Path, sample_seed: int = 0):
        self.seed = seed
        self.sample_seed = sample_seed
        self.work = work

    def generate(self) -> None:
        raise NotImplementedError

    def register(self, spark) -> None:
        raise NotImplementedError

    def run(self, spark, tracer, run_id: str) -> None:
        raise NotImplementedError

    def check(self, spark, tamper: bool = False) -> tuple[int, list[str]]:
        """Return (checks attempted, failure messages)."""
        raise NotImplementedError

    def input_rows(self) -> int:
        raise NotImplementedError

    def pages(self) -> int:
        """JSON:API page files on disk (0 when the workload reads none)."""
        return 0


class QueryWorkload(Workload):
    """A list of named queries from ``__spark_entry__.queries()`` at one
    scale: build each, then write it to the ``noop`` sink."""

    sf = 0.01

    def generate(self) -> None:
        import __spark_entry__ as entry

        self.data = str(self.work / "tables")
        self.rows = write_tables(self.data, self.seed, self.sf)
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.sample = self.pick()

    def register(self, spark) -> None:
        pass

    def pick(self) -> list[str]:
        raise NotImplementedError

    def input_rows(self) -> int:
        return sum(self.rows.values())

    def run(self, spark, tracer, run_id: str) -> None:
        for name in self.sample:
            with tracer.span(f"query:{name}", run_id, op=True):
                with tracer.span(f"build:{name}", run_id, kind="build"):
                    df = self.queries[name](spark, self.data)
                with tracer.span(f"write:{name}", run_id, kind="write"):
                    df.write.format("noop").mode("overwrite").save()

    def check(self, spark, tamper: bool = False) -> tuple[int, list[str]]:
        """Hash each sampled query's result against its DuckDB oracle
        over the same generated parquet."""
        import duckdb

        cc = _crosscheck()
        con = duckdb.connect()
        for t in self.rows:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        fails = []
        for i, name in enumerate(self.sample):
            try:
                got = self.queries[name](spark, self.data).toPandas()
                want = con.execute(self.oracles[name]).df()
                msg = compare_results(got, want, tamper=tamper and i == 0)
            except Exception as exc:  # an error is a failed check
                msg = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
            if msg:
                fails.append(f"{name}: {msg}")
        con.close()
        return len(self.sample), fails


def compare_results(got, want, tamper: bool = False) -> str | None:
    """Compare two pandas results the way the correctness gate does:
    same sorted columns, same row count, same order-insensitive value
    hash.  ``tamper`` corrupts the expected hash.  Returns None on a
    match, else what differs."""
    cc = _crosscheck()
    got, want = cc.canon(got), cc.canon(want)
    got_h, want_h = cc.value_hash(got), cc.value_hash(want)
    if tamper:
        want_h = "0" * len(want_h)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want) or got_h != want_h:
        return f"rows {len(got)}/{len(want)} hash {got_h}/{want_h}"
    return None


class CatalogSf001(QueryWorkload):
    """A family-stratified sample of oracle-backed queries at sf0.01,
    always with the four ``ref_*`` queries and never the heavy pool,
    followed by one streaming drain of the same events table through
    ``dedup_events``.

    The sample is drawn from ``sample_seed``, not from the data seed:
    runs with different data seeds time the same queries, so their
    spread is the engine's, not the sample's.  Pass another
    ``--sample-seed`` to re-check a claim on an unseen sample.

    The drain carries the streaming layer into the listed workloads: a
    micro-batch is one more short query whose cost is fixed overhead, and
    a full measurement's 3420 s hold no separate streaming workload."""

    name = "catalog_sf001"
    size = 6

    def generate(self) -> None:
        super().generate()
        self.stream = StreamDrain(["dedup_events"], chunks=4)
        self.stream.prepare(Path(self.data) / "events.parquet", self.work / "replay")

    def register(self, spark) -> None:
        self.stream.register(spark)

    def pick(self) -> list[str]:
        pool = [n for n in self.oracles if n in self.queries and n not in HEAVY]
        return stratified_sample(pool, self.size, self.sample_seed, REF_QUERIES)

    def run(self, spark, tracer, run_id: str) -> None:
        super().run(spark, tracer, run_id)
        self.stream.drain(spark, tracer, run_id)

    def check(self, spark, tamper: bool = False) -> tuple[int, list[str]]:
        n, fails = super().check(spark, tamper)
        m, more = self.stream.check(tamper)  # the cold run's drain
        # one more drain, untimed and checked as well: it warms the
        # streaming path as the query checks above warm the queries
        self.stream.drain(spark, Tracer(), "check")
        m2, more2 = self.stream.check(tamper)
        return n + m + m2, fails + more + more2


class HeavySf01(QueryWorkload):
    """The fixed heavy pool at sf0.1; the seed only permutes its order."""

    name = "heavy_sf01"
    sf = 0.1

    def pick(self) -> list[str]:
        order = list(HEAVY)
        random.Random(self.seed).shuffle(order)
        return order


class PcoPipeline(Workload):
    """The reference ETL: JSON:API pages -> typed columns -> presentation
    -> count validation -> one CSV per mapped list."""

    name = "pco_pipeline"
    # the checks only read the output files, so the JVM is still warming
    warmups = 1
    people = 1_000
    per_page = 500

    def generate(self) -> None:
        self.src = self.work / "pco"
        self.gen = write_pco(self.src, self.seed, self.people, self.per_page)
        self.truth = self.gen["truth"]

    def input_rows(self) -> int:
        return sum(self.truth["records"].values())

    def pages(self) -> int:
        return sum(self.truth["pages"].values())

    def register(self, spark) -> None:
        from planning_center_data_pipeline_spark.sources import jsonapi

        jsonapi.register(spark)
        self.expected = spark.createDataFrame(
            sorted(self.gen["expected_counts"].items()),
            "list_name string, expected_count int",
        )
        self.csv_fmt = spark.createDataFrame(
            sorted(self.gen["csv_fmt"].items()), "list_name string, csv_name string"
        )
        self.last = None

    def _tables(self, raw):
        from pyspark.sql import functions as F

        def a(path):
            return F.get_json_object("attributes", path)

        def r(path):
            return F.get_json_object("relationships", path)

        return {
            "lists": raw["lists"].select(
                F.col("id").alias("list_id"), a("$.name").alias("list_name"),
                F.col("link_self").alias("list_path"),
            ),
            "list_results": raw["list_results"].select(
                r("$.list.data.id").alias("list_id"), r("$.person.data.id").alias("person_id"),
            ),
            "people": raw["people"].select(
                F.col("id").alias("person_id"), a("$.name").alias("name"),
                a("$.birthdate").alias("birthdate"), a("$.grade").cast("int").alias("grade"),
            ),
            "emails": raw["emails"].select(
                r("$.person.data.id").alias("person_id"), a("$.address").alias("address"),
                a("$.primary").cast("boolean").alias("primary"),
            ),
            "phones": raw["phones"].select(
                r("$.person.data.id").alias("person_id"), a("$.national").alias("national"),
                a("$.primary").cast("boolean").alias("primary"),
            ),
        }

    def run(self, spark, tracer, run_id: str) -> None:
        from planning_center_data_pipeline_spark.operators.pipeline import (
            build_people_presentation,
            render_csv_outputs,
            validate_pipeline,
        )

        out = self.work / "csv" / run_id
        with tracer.span("jsonapi.load", run_id, kind="build"):
            raw = {
                res: spark.read.format("pco_jsonapi").option("path", str(self.src / res)).load()
                for res in RESOURCES
            }
        with tracer.span("extract", run_id, kind="build"):
            t = self._tables(raw)
        with tracer.span("pipeline.build", run_id, kind="build"):
            pres = build_people_presentation(
                t["lists"], t["list_results"], t["people"], t["emails"], t["phones"],
                as_of=AS_OF, list_filter=LIST_FILTER,
            )
        with tracer.span("pipeline.validate", run_id, kind="write", op=True):
            rows = validate_pipeline(pres, self.expected).collect()
        with tracer.span("pipeline.render", run_id, kind="write", op=True):
            render_csv_outputs(pres, self.csv_fmt, str(out))
        # keep only the newest output: the check reads it, the rest is waste
        if self.last is not None:
            shutil.rmtree(self.last["dir"], ignore_errors=True)
        self.last = {"dir": out, "validate": rows}

    def sink_stats(self) -> dict:
        files = sorted(self.last["dir"].glob("csv_name=*/part-*.csv"))
        size = sum(f.stat().st_size for f in files)
        rows = sum(self.truth["csv_rows"].values())
        return {"files": len(files), "bytes": size, "bytes_per_row": size / max(1, rows)}

    def check(self, spark, tamper: bool = False) -> tuple[int, list[str]]:
        truth, last = self.truth, self.last
        want_rows = dict(truth["csv_rows"])
        if tamper:
            want_rows[min(want_rows)] += 1
        fails = []
        got_invalid = sorted(r["list_name"] for r in last["validate"] if not r["valid"])
        if got_invalid != truth["invalid_lists"]:
            fails.append(f"invalid lists {got_invalid} != planted {truth['invalid_lists']}")
        if sorted(r["list_name"] for r in last["validate"]) != sorted(truth["youth_lists"]):
            fails.append("validated lists differ from the youth lists")
        got_rows, headers = {}, set()
        for d in sorted(last["dir"].glob("csv_name=*")):
            n = 0
            for f in sorted(d.glob("part-*.csv")):
                with open(f, newline="") as fh:
                    reader = csv.reader(fh)
                    header = next(reader, None)
                    if header is not None:
                        headers.add(tuple(header))
                    n += sum(1 for _ in reader)
            got_rows[d.name.split("=", 1)[1]] = n
        if got_rows != want_rows:
            bad = {k: (got_rows.get(k), want_rows.get(k))
                   for k in set(got_rows) | set(want_rows)
                   if got_rows.get(k) != want_rows.get(k)}
            fails.append(f"rows per csv_name (got, want): {bad}")
        if headers != {tuple(truth["csv_header"])}:
            fails.append(f"headers {sorted(headers)} != {truth['csv_header']}")
        return 4, fails


STREAM_JOBS = ["dedup_events", "interval_join_clicks_purchases", "session_counts", "stateful_sessions_timeout"]
SESSION_GAP_S = 30 * 60
SESSION_WATERMARK_S = 3600


def expected_stream_rows(events) -> dict[str, int]:
    """Rows each streaming job must emit when the events arrive in
    event-time order, one chunk per trigger, derived in pandas."""
    import pandas as pd

    ev = events.sort_values("ts")
    clicks = ev[ev.event_type == "click"][["user_id", "ts"]]
    buys = ev[ev.event_type == "purchase"][["user_id", "ts"]]
    pairs = buys.merge(clicks, on="user_id", suffixes=("_p", "_c"))
    hour = pd.Timedelta(hours=1)
    joined = int(((pairs.ts_c <= pairs.ts_p) & (pairs.ts_c > pairs.ts_p - hour)).sum())
    final_wm = ev.ts.max() - pd.Timedelta(seconds=SESSION_WATERMARK_S)
    gap = pd.Timedelta(seconds=SESSION_GAP_S)
    native = custom = 0
    for _, ts in ev.groupby("user_id").ts:
        ts = ts.sort_values()
        starts = (ts.diff() > gap).cumsum()
        ends = ts.groupby(starts.values).max() + gap
        closed = ends < final_wm
        native += int(closed.sum())
        custom += int(len(ends) - 1 + closed.iloc[-1])
    return {
        "dedup_events": int(ev.event_id.nunique()),
        "interval_join_clicks_purchases": joined,
        "session_counts": native,
        "stateful_sessions_timeout": custom,
    }


def write_replay(events, replay: Path, chunks: int) -> None:
    """Split ``events`` into ``chunks`` time-contiguous parquet files, as
    ``streaming.scale_probe.prepare_time_ordered_replay`` does (equal
    spans of event time, rows in ``ts`` order, files named and
    mtime-stamped in event-time order), but without Spark, so that the
    split is input generation, not set-up."""
    import numpy as np
    import pyarrow.parquet as pq

    replay.mkdir(parents=True, exist_ok=True)
    events = events.sort_by("ts")
    ts = events.column("ts").cast("int64").to_numpy()
    width = (int(ts[-1]) - int(ts[0])) // chunks + 1
    chunk = np.minimum(chunks - 1, (ts - ts[0]) // width)
    now = time.time()
    for i in range(chunks):
        f = replay / f"chunk-{i:03d}.parquet"
        pq.write_table(events.filter(chunk == i), f, compression="snappy")
        # strictly increasing mtimes: the file source reads oldest first
        os.utime(f, (now + i, now + i))


class _ProgressCollector:
    """StreamingQueryListener that keeps every progress event by query
    name and signals when a query terminates."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with outer.lock:
                    outer.progress.setdefault(p["name"], []).append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer.lock:
                    outer.ended.add(str(event.id))
                outer.cond.set()

        self.lock = threading.Lock()
        self.cond = threading.Event()
        self.progress: dict[str, list[dict]] = {}
        self.ended: set[str] = set()
        self.listener = Listener()

    def wait_ended(self, n: int, timeout: float = 30.0) -> None:
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self.lock:
                if len(self.ended) >= n:
                    return
            self.cond.wait(0.05)
            self.cond.clear()


class StreamDrain:
    """A time-ordered replay of an events parquet, drained by
    ``run_metered`` through streaming ``jobs``, one chunk file per
    trigger, and the checks of what the drain emitted."""

    def __init__(self, jobs: list[str], chunks: int):
        self.jobs = jobs
        self.chunks = chunks
        self.results: list[dict] = []

    def prepare(self, src: Path, replay: Path) -> None:
        """Split the events into the replay's chunk files and derive the
        expected output of every job."""
        import pyarrow.parquet as pq

        events = pq.read_table(src)
        write_replay(events, replay, self.chunks)
        pdf = events.to_pandas()
        self.replay = str(replay)
        self.n_rows = len(pdf)
        self.n_users = int(pdf.user_id.nunique())
        self.expected = expected_stream_rows(pdf)

    def register(self, spark) -> None:
        self.collector = _ProgressCollector()
        spark.streams.addListener(self.collector.listener)
        self.n_started = 0

    def _job(self, spark, job: str):
        from planning_center_data_pipeline_spark.streaming import jobs

        stream = jobs.read_event_stream(spark, self.replay)
        if job == "dedup_events":
            return jobs.dedup_events(stream, watermark="2 hours"), "append"
        if job == "interval_join_clicks_purchases":
            return jobs.interval_join_clicks_purchases(stream, watermark="2 hours"), "append"
        if job == "session_counts":
            return jobs.session_counts(stream, gap="30 minutes"), "append"
        return jobs.stateful_sessions_timeout(
            stream, gap_minutes=SESSION_GAP_S // 60, watermark="1 hour"
        ), "append"

    def drain(self, spark, tracer, run_id: str) -> None:
        from planning_center_data_pipeline_spark.streaming.scale_probe import run_metered

        results = []
        for job in self.jobs:
            qname = f"{job}_{run_id}".replace("-", "_")
            df, mode = self._job(spark, job)
            with tracer.span(f"stream:{job}", run_id, kind="stream", op=True) as sp:
                r = run_metered(df, qname, mode)
            self.n_started += 1
            self.collector.wait_ended(self.n_started)
            spark.catalog.dropTempView(qname)
            progress = self.collector.progress.pop(qname, [])
            for p in progress:
                d = p["durationMs"]
                start = _iso_epoch(p["timestamp"])
                tracer.add(
                    f"batch:{job}:{p['batchId']}", run_id, sp.id, start,
                    start + d.get("triggerExecution", 0) / 1e3, kind="batch", progress=p,
                )
            r.update(job=job, span=sp.id)
            results.append(r)
        self.results = results

    def check(self, tamper: bool = False) -> tuple[int, list[str]]:
        """Check the latest drain: rows out, rows in and bounded state."""
        fails = []
        for r in self.results:
            want = self.expected[r["job"]] + (1 if tamper and r["job"] == self.jobs[0] else 0)
            if r["rows_out"] != want:
                fails.append(f"{r['job']}: rows_out {r['rows_out']} != {want}")
            # the interval join reads the replay twice, once per side
            n_in = self.n_rows * (2 if r["job"] == "interval_join_clicks_purchases" else 1)
            if r["rows_in"] != n_in:
                fails.append(f"{r['job']}: rows_in {r['rows_in']} != {n_in}")
            # bounded state, with the streaming scale probe's bounds: the
            # keyed sessionizer holds at most one row per user; every other
            # job's state, once the last watermark advance has run, is a
            # horizon's worth of rows, never the whole input
            if r["job"] == "stateful_sessions_timeout":
                state, bound = r["max_state_rows"], self.n_users
            else:
                state, bound = r["final_state_rows"], 0.2 * self.n_rows
            if state > bound:
                fails.append(f"{r['job']}: state rows {state} > {bound}")
        return 3 * len(self.results), fails


class StreamReplay(Workload):
    """Time-ordered replay of the events table through the four
    streaming jobs, one chunk file per trigger."""

    name = "stream_replay"
    sf = 0.005
    chunks = 2

    def generate(self) -> None:
        import pyarrow.parquet as pq

        src = self.work / "events.parquet"
        pq.write_table(make_tables(self.seed, self.sf)["events"], src)
        self.stream = StreamDrain(STREAM_JOBS, self.chunks)
        self.stream.prepare(src, self.work / "replay")

    def input_rows(self) -> int:
        return self.stream.n_rows

    def register(self, spark) -> None:
        self.stream.register(spark)

    def run(self, spark, tracer, run_id: str) -> None:
        self.stream.drain(spark, tracer, run_id)

    def check(self, spark, tamper: bool = False) -> tuple[int, list[str]]:
        return self.stream.check(tamper)


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


WORKLOADS = {w.name: w for w in (CatalogSf001, HeavySf01, PcoPipeline, StreamReplay)}
