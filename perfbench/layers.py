"""Layer boundaries of the engine, as the benchmark calls into them.

:class:`Hooks` is the untraced composition of a query dataset: build the
plan (``operators``), run the spill action (``spark``) and stream the
spilled files back (``arrow_ipc``).  :class:`TracedHooks` runs the same
calls inside spans, and :func:`install_server_spans` wraps the public
functions the HTTP handler calls (``server``, ``ipc_stream``,
``multipart``).  :class:`Tracing` puts both in place only while tracing
is on, so an untraced window runs none of the wrappers.
:func:`per_layer` turns the recorded spans, counts and Spark
status-store rows into the per-layer metrics.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from collections import defaultdict

from spans import Recorder, self_time_by_name, total_time_by_name


class Hooks:
    def __init__(self, spark) -> None:
        self.spark = spark

    def build(self, query, sf_dir: str):
        return query.build(self.spark, sf_dir)

    def spill(self, df):
        from arrow_experiments_spark.sources.arrow_ipc import spill_dataframe

        return spill_dataframe(df)

    def read(self, reader):
        return reader


def traced_iter(rec: Recorder, name: str, items, nbytes: str | None = None):
    """Re-yield ``items`` with each pull from the source inside a span."""
    it = iter(items)
    while True:
        with rec.span(name):
            try:
                item = next(it)
            except StopIteration:
                return
        if nbytes is not None:
            rec.count(nbytes, len(item))
        yield item


class TracedHooks(Hooks):
    """Spans around the same calls; Spark jobs are tagged with a job group
    per request and phase so their status-store rows can be attributed."""

    def __init__(self, spark, rec: Recorder) -> None:
        super().__init__(spark)
        self.rec = rec

    def _group(self, phase: str) -> None:
        gid = f"r{self.rec.rid}.{phase}"
        self.spark.sparkContext.setJobGroup(gid, gid)

    def build(self, query, sf_dir: str):
        if self.rec.enabled:
            self._group("build")
        with self.rec.span("operators.build"):
            return super().build(query, sf_dir)

    def spill(self, df):
        if self.rec.enabled:
            self._group("action")
        with self.rec.span("spark.action"):
            out = super().spill(df)
        files = out[1]
        self.rec.count("arrow_ipc.spill_files", len(files))
        self.rec.count("arrow_ipc.spill_bytes", sum(os.path.getsize(f) for f in files))
        return out

    def read(self, reader):
        import pyarrow as pa

        return pa.RecordBatchReader.from_batches(
            reader.schema, traced_iter(self.rec, "arrow_ipc.read", reader)
        )


class Tracing:
    """The server's tracing switch.  Off, requests run the engine's own
    functions and the plain :class:`Hooks`; on, the wrapped ones and
    :class:`TracedHooks`.  Switch only while no request is in flight."""

    def __init__(self, spark) -> None:
        self.rec = Recorder()
        self._plain = self.hooks = Hooks(spark)
        self._traced = TracedHooks(spark, self.rec)
        self._originals: list[tuple] = []

    def switch(self, on: bool) -> None:
        if on == self.rec.enabled:
            return
        if on:
            self._originals = install_server_spans(self.rec)
        else:
            for owner, attr, orig in reversed(self._originals):
                setattr(owner, attr, orig)
            self._originals = []
        self.hooks = self._traced if on else self._plain
        self.rec.enabled = on


def _wrap(owner, attr: str, make) -> tuple:
    orig = getattr(owner, attr)
    setattr(owner, attr, functools.wraps(orig)(make(orig)))
    return owner, attr, orig


def install_server_spans(rec: Recorder) -> list[tuple]:
    """Wrap the handler's entry points and the public calls it makes.
    Returns ``(owner, attribute, original)`` for each wrapped name."""
    import arrow_experiments_spark.transport.multipart as multipart
    import arrow_experiments_spark.transport.server as server
    from arrow_experiments_spark.transport.server import (
        ArrowHttpHandler,
        DatasetRegistry,
    )

    def request(orig):
        def do(self):
            rec.new_request()
            with rec.span("server.request"):
                orig(self)

        return do

    # Body-cache lookups.  A lookup hits when the key was already cached,
    # fills when this call built it; a dataset the caches do not hold
    # (None back, nothing built) is not a lookup.  Lookups nested in
    # another cache call (the identity body under a coded fill) are part
    # of that call.
    depth = threading.local()

    def cache(keyfn):
        def make(orig):
            def lookup(self, name, *args):
                if getattr(depth, "n", 0):
                    return orig(self, name, *args)
                hit = keyfn(self, name, *args)
                depth.n = 1
                t0 = time.perf_counter()
                try:
                    body = orig(self, name, *args)
                finally:
                    depth.n = 0
                if body is not None:
                    rec.count("server.cache_lookups")
                    if hit:
                        rec.count("server.cache_hits")
                    else:
                        rec.count("server.cache_fills")
                        rec.count("server.cache_fill_s", time.perf_counter() - t0)
                        rec.count("server.cache_bytes", len(body))
                return body

            return lookup

        return make

    def spanned(name):
        def make(orig):
            def call(*args, **kwargs):
                with rec.span(name):
                    return orig(*args, **kwargs)

            return call

        return make

    def eager_decode(orig):
        # the plain-ingest parse happens when the handler drains the
        # reader; drain it here, inside the span, and hand back the table
        def decode(raw, strategy):
            import pyarrow as pa

            with rec.span("server.ingest_parse"):
                table = orig(raw, strategy).read_all()
            return pa.RecordBatchReader.from_batches(table.schema, table.to_batches())

        return decode

    def encode(orig):
        def chunks(*args, **kwargs):
            return traced_iter(
                rec, "ipc_stream.encode", orig(*args, **kwargs), "ipc_stream.encode_bytes"
            )

        return chunks

    def send(orig):
        def write(wfile, chunks):
            with rec.span("ipc_stream.send"):
                n = orig(wfile, chunks)
            rec.count("ipc_stream.send_bytes", n)
            return n

        return write

    return [
        _wrap(ArrowHttpHandler, "do_GET", request),
        _wrap(ArrowHttpHandler, "do_POST", request),
        _wrap(DatasetRegistry, "identity_body", cache(lambda r, n: n in r._bodies)),
        _wrap(
            DatasetRegistry, "encoded_body", cache(lambda r, n, c: (n, c) in r._coded_bodies)
        ),
        _wrap(
            DatasetRegistry,
            "ipc_codec_body",
            cache(lambda r, n, c: (n, f"ipc+{c}") in r._coded_bodies),
        ),
        _wrap(DatasetRegistry, "register_table", spanned("server.register")),
        _wrap(multipart, "parse_multipart", spanned("multipart.parse")),
        _wrap(multipart, "read_arrow_part", spanned("server.ingest_parse")),
        _wrap(server, "decode_body", eager_decode),
        _wrap(server, "encode_ipc_chunks", encode),
        _wrap(server, "write_chunked", send),
    ]


# ---- Spark status store ---------------------------------------------------


def _py(jvm, seq) -> list:
    """A Scala collection as a Python list."""
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric, in bytes or seconds.

    Size and timing metrics read ``total (min, med, max ...)\\n12.3 MiB
    (...)``; a single-task metric may carry the bare value."""
    line = text.strip().splitlines()[-1]
    number, unit = line.split(" (")[0].split()[:2]
    number = float(number.replace(",", ""))
    if unit in _SIZE_UNITS:
        return number * _SIZE_UNITS[unit]
    return number * _TIME_UNITS[unit]


def spark_rows(spark) -> list[dict]:
    """One row per request and phase from Spark's status stores: jobs,
    stage totals and Python-worker SQL metrics, for every job tagged with
    a ``r<rid>.<phase>`` group by :class:`TracedHooks`."""
    jvm = spark.sparkContext._jvm
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    groups: dict[str, list[int]] = defaultdict(list)
    job_stages: dict[int, list[int]] = {}
    for job in _py(jvm, store.jobsList(None)):
        group = job.jobGroup()
        if group.isDefined() and str(group.get()).startswith("r"):
            groups[str(group.get())].append(job.jobId())
            job_stages[job.jobId()] = _py(jvm, job.stageIds())
    gateway = spark.sparkContext._gateway
    stages = {
        (s.stageId(), s.attemptId()): s
        for s in _py(
            jvm,
            store.stageList(
                None, False, False, gateway.new_array(jvm.double, 0), None
            ),
        )
    }
    sql = spark._jsparkSession.sharedState().statusStore()
    job_exec: dict[int, int] = {}
    for ex in _py(jvm, sql.executionsList()):
        for jid in jvm.scala.jdk.javaapi.CollectionConverters.asJava(ex.jobs()).keys():
            job_exec[int(jid)] = ex.executionId()

    def python_metrics(exec_ids: set[int]) -> dict[str, float]:
        out = {"python_init_s": 0.0, "python_run_s": 0.0, "python_bytes": 0.0}
        for eid in exec_ids:
            values = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                sql.executionMetrics(eid)
            )
            for node in _py(jvm, sql.planGraph(eid).allNodes()):
                for m in _py(jvm, node.metrics()):
                    name = m.name()
                    if "Python worker" not in name:
                        continue
                    raw = values.get(m.accumulatorId())
                    if raw is None:
                        continue
                    v = parse_sql_metric(raw)
                    if name.startswith("data "):
                        out["python_bytes"] += v
                    elif "initialize" in name or "start" in name:
                        out["python_init_s"] += v
                    elif "run" in name:
                        out["python_run_s"] += v
        return out

    rows = []
    for gid, jobs in groups.items():
        rid, phase = gid[1:].split(".")
        row = {"rid": int(rid), "phase": phase, "jobs": len(jobs)}
        stage_ids = {sid for j in jobs for sid in job_stages[j]}
        # a job lists the stages it reused from earlier jobs as skipped
        picked = [
            s for (sid, _), s in stages.items()
            if sid in stage_ids and str(s.status()) != "SKIPPED"
        ]
        row.update(
            stages=len(picked),
            tasks=sum(s.numTasks() for s in picked),
            failed_tasks=sum(s.numFailedTasks() for s in picked),
            executor_run_s=sum(s.executorRunTime() for s in picked) / 1e3,
            executor_cpu_s=sum(s.executorCpuTime() for s in picked) / 1e9,
            input_bytes=sum(s.inputBytes() for s in picked),
            shuffle_read_bytes=sum(s.shuffleReadBytes() for s in picked),
            shuffle_write_bytes=sum(s.shuffleWriteBytes() for s in picked),
            spill_bytes=sum(
                s.memoryBytesSpilled() + s.diskBytesSpilled() for s in picked
            ),
        )
        row.update(python_metrics({job_exec[j] for j in jobs if j in job_exec}))
        rows.append(row)
    return rows


# ---- per-layer metrics ----------------------------------------------------

PER_LAYER = (
    ("operators.build_s", "s/req"),
    ("operators.build_jobs", "count/req"),
    ("spark.action_s", "s/req"),
    ("spark.jobs", "count/req"),
    ("spark.stages", "count/req"),
    ("spark.tasks", "count/req"),
    ("spark.failed_tasks", "count/req"),
    ("spark.executor_run_s", "s/req"),
    ("spark.executor_cpu_s", "s/req"),
    ("spark.input_bytes", "B/req"),
    ("spark.shuffle_read_bytes", "B/req"),
    ("spark.shuffle_write_bytes", "B/req"),
    ("spark.spill_bytes", "B/req"),
    ("spark.python_init_s", "s/req"),
    ("spark.python_run_s", "s/req"),
    ("spark.python_bytes", "B/req"),
    ("arrow_ipc.spill_files", "count/req"),
    ("arrow_ipc.spill_bytes", "B/req"),
    ("arrow_ipc.read_s", "s/req"),
    ("server.cache_hits", "count/req"),
    ("server.cache_fills", "count/req"),
    ("server.cache_hit_ratio", "ratio"),
    ("server.cache_fill_s", "s/req"),
    ("server.cache_bytes", "B/req"),
    ("server.ingest_parse_s", "s/req"),
    ("server.register_s", "s/req"),
    ("multipart.parse_s", "s/req"),
    ("ipc_stream.encode_s", "s/req"),
    ("ipc_stream.encode_bytes", "B/req"),
    ("ipc_stream.send_s", "s/req"),
    ("ipc_stream.send_bytes", "B/req"),
    ("client.decode_s", "s/req"),
    ("client.post_encode_s", "s/req"),
)

# self time of these spans, summed
_SELF = {
    "arrow_ipc.read_s": "arrow_ipc.read",
    "ipc_stream.encode_s": "ipc_stream.encode",
    "ipc_stream.send_s": "ipc_stream.send",
    "server.ingest_parse_s": "server.ingest_parse",
    "server.register_s": "server.register",
    "multipart.parse_s": "multipart.parse",
    "client.decode_s": "client.decode",
    "client.post_encode_s": "client.post_encode",
}
# whole duration of these spans, summed (their children are other layers)
_TOTAL = {
    "operators.build_s": "operators.build",
    "spark.action_s": "spark.action",
}
_COUNTS = (
    "arrow_ipc.spill_files",
    "arrow_ipc.spill_bytes",
    "server.cache_hits",
    "server.cache_fills",
    "server.cache_fill_s",
    "server.cache_bytes",
    "ipc_stream.encode_bytes",
    "ipc_stream.send_bytes",
)
_SPARK = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_init_s",
    "python_run_s",
    "python_bytes",
)


def per_layer(
    server_dump: dict, client_dump: dict, spark: list[dict], requests: int
) -> dict[str, float]:
    """Per-layer metrics, each a total over the traced window divided by
    the requests completed in it (``server.cache_hit_ratio`` excepted)."""
    spans = server_dump["spans"] + client_dump["spans"]
    own = self_time_by_name(spans)
    whole = total_time_by_name(spans)
    counts: dict[str, float] = defaultdict(float)
    for c in server_dump["counts"] + client_dump["counts"]:
        counts[c["name"]] += c["value"]
    totals = {k: own.get(v, 0.0) for k, v in _SELF.items()}
    totals.update({k: whole.get(v, 0.0) for k, v in _TOTAL.items()})
    totals.update({k: counts.get(k, 0.0) for k in _COUNTS})
    for key in _SPARK:
        totals[f"spark.{key}"] = sum(r[key] for r in spark)
    totals["operators.build_jobs"] = sum(r["jobs"] for r in spark if r["phase"] == "build")
    n = max(requests, 1)
    out = {k: v / n for k, v in totals.items()}
    lookups = counts.get("server.cache_lookups", 0.0)
    out["server.cache_hit_ratio"] = counts.get("server.cache_hits", 0.0) / lookups if lookups else 0.0
    return {name: out[name] for name, _ in PER_LAYER}
