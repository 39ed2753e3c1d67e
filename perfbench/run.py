#!/usr/bin/env python3
"""End-to-end benchmark of the engine's Arrow-over-HTTP server.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The server runs as its own process on
``local[nproc]`` (see server.py); this process is the single load
generator and talks to it over loopback.  Workloads, metrics and what
each per-layer metric should move are described in perfbench/DESIGN.md.

The last line printed is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics (from a traced window between two untraced ones of
the same length) with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import queue
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.request
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.1")
RUN_DIR = os.path.join(HERE, ".run")
READY_TIMEOUT_S = 150
STOP_TIMEOUT_S = 60

import procstat  # noqa: E402  (perfbench/ is sys.path[0] when run as a script)
from mixes import (  # noqa: E402
    EGRESS_QUERIES,
    INGEST_ROUND,
    Read,
    egress_passes,
    headers,
    ingest_ops,
)
from spans import Recorder  # noqa: E402
from stats import TAIL_BEYOND, kind_median_gm, tail  # noqa: E402

MIB = 1 << 20


def cpus() -> int:
    return len(os.sched_getaffinity(0))


class Server:
    """One server process, from launch to a stop that waits for everything
    it started (the JVM and Spark's Python workers included) to end."""

    def __init__(self, workload: str, trace_out: str | None = None) -> None:
        tmp = os.path.join(RUN_DIR, "tmp")
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(cpus()),
            # every JVM, Spark's launcher included: temp files in the checkout
            JAVA_TOOL_OPTIONS=" ".join(filter(None, [
                os.environ.get("JAVA_TOOL_OPTIONS"), f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            ])),
            SPARK_LOCAL_DIRS=os.path.join(RUN_DIR, "spark-local"),
            TMPDIR=tmp,
            PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        )
        os.makedirs(env["TMPDIR"], exist_ok=True)
        cmd = [sys.executable, os.path.join(HERE, "server.py"), "--workload", workload,
               "--data", DATA]
        if trace_out:
            cmd += ["--trace-out", trace_out]
        self.log = open(os.path.join(RUN_DIR, f"server-{workload}.log"), "ab")
        # a session of its own, which every process the server starts
        # stays in: kill() finds them all by it
        self.proc = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            text=True, env=env, cwd=RUN_DIR, start_new_session=True,
        )
        # drain stdout on a thread, so nothing the server tree prints can
        # fill the pipe and stall it mid-run
        self._lines: queue.Queue[str | None] = queue.Queue()
        self._drain = threading.Thread(target=self._read_stdout, daemon=True)
        self._drain.start()
        line = self._expect("READY ", READY_TIMEOUT_S)
        if line is None:
            self.kill()
            raise RuntimeError(f"server did not start (see {self.log.name})")
        self.url = f"http://127.0.0.1:{json.loads(line[6:])['port']}"

    def _read_stdout(self) -> None:
        for line in self.proc.stdout:
            self._lines.put(line.strip())
        self._lines.put(None)

    def _expect(self, prefix: str, timeout: float) -> str | None:
        """The next stdout line starting with ``prefix``; None if the
        server's stdout ends or ``timeout`` passes first."""
        deadline = time.monotonic() + timeout
        while True:
            try:
                line = self._lines.get(timeout=max(deadline - time.monotonic(), 0))
            except queue.Empty:
                return None
            if line is None or line.startswith(prefix):
                return line

    def pids(self) -> list[int]:
        return procstat.tree(self.proc.pid)

    def trace(self, on: bool) -> None:
        """Switch the server's tracing and wait until it has."""
        cmd = f"trace {'on' if on else 'off'}"
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        if self._expect(cmd, STOP_TIMEOUT_S) is None:
            raise RuntimeError(f"server did not acknowledge {cmd!r}")

    def stop(self) -> None:
        """Close stdin, let the server end by itself, wait for its session."""
        self.proc.stdin.close()
        done = self._expect("DONE", STOP_TIMEOUT_S)
        self.kill(grace=STOP_TIMEOUT_S if done is not None else 0)
        if done is None:
            raise RuntimeError(f"server ended without a result (see {self.log.name})")

    def kill(self, grace: float = 0) -> None:
        """Give the server's session ``grace`` seconds to end, SIGKILL what
        is left of it and wait until all of it has ended.  The server
        itself is reaped last: until then its pid, which names the
        session, cannot be reused."""
        deadline = time.monotonic() + grace
        while (live := procstat.session(self.proc.pid)) and time.monotonic() < deadline:
            time.sleep(0.1)
        deadline = time.monotonic() + 20
        while live and time.monotonic() < deadline:
            for pid in live:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)
            live = procstat.session(self.proc.pid)
        self.proc.wait()
        # the pipe closes once the last process holding it has ended
        self._drain.join(timeout=20)
        self.log.close()


class Run:
    """Samples and failures of one measured window."""

    def __init__(self) -> None:
        self.reads: list[tuple[str, float]] = []  # (kind of read, latency)
        self.ttfb: list[tuple[str, float]] = []
        self.writes: list[float] = []
        self.payload = 0
        self.wire = 0
        self.attempted = 0
        self.failures: list[str] = []

    def ok(self, kind: str, latency: float, payload: int, wire: int, ttfb: float | None = None):
        """A completed request: ``kind`` is "write" or the kind of read
        (the query, or how an ingest read uses the body cache)."""
        self.attempted += 1
        if kind == "write":
            self.writes.append(latency)
        else:
            self.reads.append((kind, latency))
        if ttfb:  # 0 when no batch arrived
            self.ttfb.append((kind, ttfb))
        self.payload += payload
        self.wire += wire

    def fail(self, what: str) -> None:
        self.attempted += 1
        self.failures.append(what)

    def wrong(self, what: str) -> None:
        """A request already counted as completed returned a wrong result."""
        self.failures.append(what)

    @property
    def completed(self) -> int:
        return len(self.reads) + len(self.writes)


class Client:
    """The load generator's HTTP calls; with ``rec`` enabled the body is
    captured first and decoded inside a ``client.decode`` span."""

    def __init__(self, url: str, rec: Recorder) -> None:
        self.url = url
        self.rec = rec

    def get(self, path: str, strategy: str):
        """GET and decode.  Returns ``(table, latency, ttfb, wire_bytes)``."""
        from arrow_experiments_spark.transport.client import fetch_arrow
        from arrow_experiments_spark.transport.ipc_stream import decode_body

        h = headers(strategy)
        if not self.rec.enabled:
            table, m = fetch_arrow(
                self.url + path, accept=h.get("Accept"), accept_encoding=h["Accept-Encoding"]
            )
            return table, m.elapsed_sec, m.time_to_first_batch_sec, m.bytes_received
        self.rec.new_request()
        t0 = time.perf_counter()
        with urllib.request.urlopen(urllib.request.Request(self.url + path, headers=h)) as resp:
            coding = resp.headers.get("Content-Encoding", "identity")
            body = resp.read()
        with self.rec.span("client.decode"):
            table = decode_body(body, coding).read_all()
        latency = time.perf_counter() - t0
        return table, latency, latency, len(body)

    def post(self, name: str, table, multipart: bool) -> tuple[dict, float, int]:
        """POST a table as plain IPC or multipart form data, encoded as
        ``transport.client.post_arrow`` does.  Returns ``(ack, latency,
        body_bytes)``; the latency includes the encode."""
        import pyarrow as pa

        from arrow_experiments_spark.transport.multipart import (
            encode_form_data,
            form_data_content_type,
            make_boundary,
        )
        from arrow_experiments_spark.transport.negotiation import ARROW_STREAM_CONTENT_TYPE

        if self.rec.enabled:
            self.rec.new_request()
        t0 = time.perf_counter()
        with self.rec.span("client.post_encode"):
            if multipart:
                boundary = make_boundary()
                meta = {"name": name, "rows": table.num_rows}
                body = b"".join(encode_form_data(boundary, meta, table.schema, table.to_batches()))
                ctype = form_data_content_type(boundary)
            else:
                sink = io.BytesIO()
                with pa.ipc.new_stream(sink, table.schema) as w:
                    w.write_table(table)
                body = sink.getvalue()
                ctype = ARROW_STREAM_CONTENT_TYPE
        req = urllib.request.Request(
            f"{self.url}/ingest/{name}", data=body, headers={"Content-Type": ctype}, method="POST"
        )
        with urllib.request.urlopen(req) as resp:
            ack = json.loads(resp.read())
        return ack, time.perf_counter() - t0, len(body)


# ---- workloads --------------------------------------------------------------


class QueryEgress:
    """1 connection, seeded shuffles of the 12 egress queries, zstd.  A
    window runs whole passes, so every run times every query.  One
    untimed pass comes first: it takes about 2.4 times as long as the
    next (JIT, codegen, Python workers, the curate cache).  The JVM keeps
    warming for a few more passes, but a run cannot afford them."""

    setups = 1
    warm_passes = 1

    def __init__(self, seed: int) -> None:
        from checks import expected_digests

        self.expected = expected_digests(list(EGRESS_QUERIES), DATA, os.path.join(RUN_DIR, "cache"))
        self.passes = egress_passes(seed)
        self.results: dict[str, list] = {q: [] for q in EGRESS_QUERIES}

    def _one(self, client: Client, run: Run, q: str) -> None:
        try:
            table, lat, ttfb, wire = client.get(f"/datasets/query.{q}", "zstd")
        except Exception as e:  # noqa: BLE001 -- counted and named, never filtered
            run.fail(f"{q}: {type(e).__name__}: {e}")
            return
        run.ok(q, lat, table.nbytes, wire, ttfb)
        self.results[q].append((run, table))

    def warmup(self, client: Client, run: Run) -> None:
        for _ in range(self.warm_passes):
            for q in EGRESS_QUERIES:
                self._one(client, run, q)

    def unit(self, client: Client, run: Run) -> None:
        """One pass: every query once, in the seed's next order."""
        for q in next(self.passes):
            self._one(client, run, q)

    def finish(self) -> None:
        """Compare every response, canonicalized, with DuckDB's result."""
        from checks import canonical_digest, table_digest

        for q, got in self.results.items():
            seen: dict[str, tuple[str, int]] = {}
            for run, table in got:
                raw = table_digest(table)
                if raw not in seen:
                    seen[raw] = canonical_digest(table.to_pandas())
                digest, rows = seen[raw]
                want = self.expected[q]
                if digest != want["digest"]:
                    run.wrong(f"{q}: result differs from DuckDB ({rows} rows vs {want['rows']})")
            got.clear()


INGEST_SLICE_ROWS = 100_000


class IngestChurn:
    """1 connection: writes of seeded lineitem slices beside cache-filling,
    cache-hitting and projected reads of the written names."""

    setups = 5

    def __init__(self, seed: int) -> None:
        import pyarrow.parquet as pq

        self.source = pq.read_table(os.path.join(DATA, "lineitem.parquet"))
        self.ops = ingest_ops(seed, self.source.num_rows, tuple(self.source.column_names),
                              INGEST_SLICE_ROWS)
        self.written: dict[str, object] = {}

    def _one(self, client: Client, run: Run, op) -> None:
        if not isinstance(op, Read):
            part = self.source.slice(op.offset, INGEST_SLICE_ROWS)
            try:
                ack, lat, wire = client.post(op.name, part, op.multipart)
            except Exception as e:  # noqa: BLE001
                run.fail(f"ingest/{op.name}: {type(e).__name__}: {e}")
                # what the server holds under the name is now unknown
                self.written.pop(op.name, None)
                return
            run.ok("write", lat, part.nbytes, wire)
            self.written[op.name] = part
            if ack.get("rows") != part.num_rows:
                run.wrong(f"ingest/{op.name}: ack {ack}")
            return
        path = f"/datasets/{op.name}"
        want = self.written.get(op.name)
        if want is None:
            run.fail(f"{path} {op.strategy}: read of a name whose write failed")
            return
        if op.columns is not None:
            path += f"?columns={','.join(op.columns)}&batch_rows={op.batch_rows}"
            want = want.select(list(op.columns))
        try:
            table, lat, ttfb, wire = client.get(path, op.strategy)
        except Exception as e:  # noqa: BLE001
            run.fail(f"{path} {op.strategy}: {type(e).__name__}: {e}")
            return
        run.ok(op.kind, lat, table.nbytes, wire, ttfb)
        if not table.equals(want):
            run.wrong(f"{path} {op.strategy}: read-back differs from the posted slice")

    def unit(self, client: Client, run: Run) -> None:
        """One round (see mixes.ingest_ops): warm-up and windows run whole
        rounds, so every window holds each kind of projected read equally
        often."""
        for _ in range(4 * INGEST_ROUND):  # a write and three reads per cycle
            self._one(client, run, next(self.ops))

    warmup = unit

    def finish(self) -> None:
        pass  # every read is checked as it arrives


WORKLOADS = {"query_egress": QueryEgress, "ingest_churn": IngestChurn}


# ---- measurement ------------------------------------------------------------


@dataclass
class Window:
    run: Run
    wall: float
    cpu: float
    py_rss: float  # peak RSS of the server tree's processes other than the JVM
    jvm_rss: float


def measure(workload, client: Client, server: Server, seconds: float) -> Window:
    """Whole units (passes or rounds) of ``workload`` until ``seconds``
    have passed.  The peaks are read after the first unit, so that they
    cover the same requests however many units the host's speed allows:
    the ingest server's peak grows with every multipart write it takes."""
    run = Run()
    cpu0 = procstat.cpu_seconds(server.pids())
    t0 = time.perf_counter()
    workload.unit(client, run)
    pids = server.pids()
    jvm = [p for p in pids if procstat.name(p) == "java"]
    py_rss = procstat.peak_rss_mib([p for p in pids if p not in jvm])
    jvm_rss = procstat.peak_rss_mib(jvm)
    while time.perf_counter() - t0 < seconds:
        workload.unit(client, run)
    wall = time.perf_counter() - t0
    cpu = procstat.cpu_seconds(server.pids()) - cpu0
    return Window(run, wall, cpu, py_rss, jvm_rss)


def metrics(windows: list[Window]) -> tuple[dict, dict]:
    """End-to-end metrics of the windows pooled, and figures printed
    beside them.  A metric that needs a sample the windows did not
    produce is left out; their failures are reported with the run."""
    reads = [x for w in windows for x in w.run.reads]
    writes = [x for w in windows for x in w.run.writes]
    ttfb = [x for w in windows for x in w.run.ttfb]
    completed = sum(w.run.completed for w in windows)
    payload = sum(w.run.payload for w in windows)
    wall = sum(w.wall for w in windows)
    m = {
        "requests_per_s": (completed / wall, "1/s"),
        "payload_mib_per_s": (payload / MIB / wall, "MiB/s"),
        # one peak per server process tree
        "server_py_rss_mib": (statistics.median(w.py_rss for w in windows), "MiB"),
    }
    if reads:
        # each kind's median, combined by its share of the reads (see
        # stats.kind_median_gm): the kinds of a mix differ several-fold
        m["read_p50_gm_s"] = (kind_median_gm(reads), "s")
    if ttfb:
        m["ttfb_p50_gm_s"] = (kind_median_gm(ttfb), "s")
    if payload:
        m["wire_bytes_per_payload_byte"] = (sum(w.run.wire for w in windows) / payload, "ratio")
    if completed:
        m["server_cpu_s_per_request"] = (sum(w.cpu for w in windows) / completed, "s")
    # printed, not bounded, as too noisy across runs to gate on: the tails
    # (ten samples beyond them) and the JVM's peak (see DESIGN.md)
    info = {"reads": len(reads), "writes": len(writes), "wall_s": wall,
            "jvm_rss_mib": statistics.median(w.jvm_rss for w in windows)}
    if reads:
        info["read_p50_s"] = statistics.median(x for _, x in reads)
    if len(reads) > TAIL_BEYOND:
        pct, info["read_tail_s"], _ = tail([x for _, x in reads])
        info["read_tail_percentile"] = round(pct, 1)
    if writes:
        info["write_p50_s"] = statistics.median(writes)
    if len(writes) > TAIL_BEYOND:
        pct, info["write_tail_s"], _ = tail(writes)
        info["write_tail_percentile"] = round(pct, 1)
    return m, info


def set_up(name: str, workload, trace_out: str | None):
    """Launch the server and run the warm-up; return the server, its
    client, the warm-up run and the set-up seconds."""
    t0 = time.perf_counter()
    server = Server(name, trace_out)
    try:
        client = Client(server.url, Recorder())
        warm = Run()
        workload.warmup(client, warm)
    except BaseException:
        server.kill()
        raise
    return server, client, warm, time.perf_counter() - t0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "arrow_experiments_spark", "__init__.py")):
        print(f"engine package not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(RUN_DIR, exist_ok=True)

    runs: list[Run] = []
    windows: list[Window] = []
    setup_times = []
    trace_out = os.path.join(RUN_DIR, f"trace-{args.workload}.json") if args.trace else None
    # --trace 1 sets up once and measures untraced, traced and untraced
    # windows; --trace 0 measures one window per set-up.  Either way the
    # windows add up to --seconds.
    n_setups = 1 if args.trace else WORKLOADS[args.workload].setups
    per_setup = 3 if args.trace else 1
    seconds = args.seconds / (n_setups * per_setup)
    # one request sequence for all set-ups: each server takes the next
    # part of it, so the servers of a run see different inputs
    workload = WORKLOADS[args.workload](args.seed)
    for _ in range(n_setups):
        server, client, warm, secs = set_up(args.workload, workload, trace_out)
        runs.append(warm)
        setup_times.append(secs)
        try:
            for i in range(per_setup):
                if args.trace:
                    # the overhead is taken against both untraced
                    # neighbours, so warming across windows cancels out
                    server.trace(i == 1)
                    client.rec.enabled = i == 1
                windows.append(measure(workload, client, server, seconds))
                runs.append(windows[-1].run)
        except BaseException:
            server.kill()
            raise
        server.stop()
        workload.finish()
    attempted = sum(r.attempted for r in runs)
    failures = [f for r in runs for f in r.failures]

    if args.trace:
        from layers import PER_LAYER, per_layer

        with open(trace_out) as f:
            server_dump = json.load(f)
        values = per_layer(
            server_dump, client.rec.dump(), server_dump["spark"], windows[1].run.completed
        )
        units = dict(PER_LAYER)
        result = {k: (v, units[k]) for k, v in values.items()}
        before, traced, after = (metrics([w])[0] for w in windows)
        for key in ("read_p50_gm_s", "server_cpu_s_per_request"):
            if key in before and key in traced and key in after:
                base = (before[key][0] + after[key][0]) / 2
                result[f"trace.{key}_overhead"] = (traced[key][0] - base, "s")
        info = metrics([windows[0], windows[2]])[1]
    else:
        result, info = metrics(windows)
        result["setup_s"] = (statistics.median(setup_times), "s")

    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "nproc": cpus(),
        "SPARK_GRAFT_CPUS": cpus(), "transport": "loopback 127.0.0.1",
        "setup_s_each": setup_times, "error_rate": len(failures) / max(attempted, 1),
        **info,
    }))
    for f in failures[:20]:
        print(f"FAILED: {f}")
    for k, (v, unit) in result.items():
        print(f"{k} = {v:.6g} {unit}")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in result.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
