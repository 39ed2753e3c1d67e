"""Tests of the benchmark's own logic: the tail rule, self-time
arithmetic, seeded request mixes, the /proc tree walk and the per-layer
aggregation.  Run with ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import procstat  # noqa: E402
from layers import PER_LAYER, parse_sql_metric, per_layer  # noqa: E402
from mixes import (  # noqa: E402
    EGRESS_QUERIES,
    INGEST_NAMES,
    INGEST_ROUND,
    PROJECTED_BATCH_ROWS,
    PROJECTED_STRATEGIES,
    Read,
    Write,
    egress_passes,
    headers,
    ingest_ops,
)
from spans import Recorder, covered_length, self_time_by_name, self_times  # noqa: E402
from stats import kind_median_gm, tail  # noqa: E402

# ---- tail rule ---------------------------------------------------------------


def test_tail_leaves_exactly_ten_samples_beyond():
    samples = [float(i) for i in range(120)]
    pct, value, n = tail(samples)
    assert n == 120
    assert value == 109.0
    assert sum(s > value for s in samples) == 10
    assert pct == pytest.approx(100 * 110 / 120)


def test_tail_smallest_sample_count_and_order_independence():
    samples = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 0.0]
    pct, value, n = tail(samples)
    assert (value, n) == (0.0, 11)
    assert pct == pytest.approx(100 / 11)


def test_tail_refuses_too_few_samples():
    with pytest.raises(ValueError):
        tail([1.0] * 10)


def test_kind_median_gm_weights_each_kind_median_by_its_share():
    # hits at 1, fills at 4: the pooled median would be either, or between
    samples = [("hit", 1.0), ("hit", 1.0), ("hit", 9.0), ("fill", 4.0), ("fill", 4.0), ("fill", 0.5)]
    assert kind_median_gm(samples) == pytest.approx(2.0)  # (1^3 * 4^3) ** (1/6)
    # a kind's share sets its weight: one "x" read in four
    assert kind_median_gm([("a", 1.0)] * 3 + [("x", 16.0)]) == pytest.approx(2.0)
    # order does not matter; a single kind gives its median
    assert kind_median_gm(samples[::-1]) == pytest.approx(2.0)
    assert kind_median_gm([("q", 0.3), ("q", 0.1), ("q", 0.2)]) == pytest.approx(0.2)


# ---- self time -----------------------------------------------------------------


def _span(sid, start, end, parent=None, name="x"):
    return {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "rid": 1}


def test_self_time_nested_children():
    spans = [
        _span(1, 0.0, 10.0, name="outer"),
        _span(2, 1.0, 3.0, 1, "child"),
        _span(3, 5.0, 6.0, 1, "child"),
        _span(4, 1.5, 2.5, 2, "grandchild"),
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(7.0)  # only direct children are subtracted
    assert own[2] == pytest.approx(1.0)
    assert own[4] == pytest.approx(1.0)
    assert self_time_by_name(spans)["child"] == pytest.approx(2.0)


def test_self_time_overlapping_children_count_once():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 2.0, 6.0, 1),
        _span(3, 4.0, 8.0, 1),  # overlaps the first child (another thread)
        _span(4, 5.0, 7.0, 1),  # inside both
    ]
    assert self_times(spans)[1] == pytest.approx(4.0)


def test_self_time_clips_children_to_the_parent():
    spans = [_span(1, 0.0, 4.0), _span(2, 3.0, 9.0, 1), _span(3, -2.0, 1.0, 1)]
    assert self_times(spans)[1] == pytest.approx(2.0)


def test_covered_length_disjoint_and_touching():
    assert covered_length([(0, 1), (1, 2), (3, 4)], 0, 10) == pytest.approx(3.0)
    assert covered_length([], 0, 10) == 0.0
    assert covered_length([(5, 3)], 0, 10) == 0.0


def test_recorder_links_parents_and_requests():
    rec = Recorder()
    with rec.span("off"):
        pass
    rec.enabled = True
    rid = rec.new_request()
    with rec.span("a"):
        with rec.span("b"):
            rec.count("bytes", 5)
    dump = rec.dump()
    by_name = {s["name"]: s for s in dump["spans"]}
    assert set(by_name) == {"a", "b"}
    assert by_name["b"]["parent"] == by_name["a"]["id"]
    assert by_name["a"]["parent"] is None
    assert {s["rid"] for s in dump["spans"]} == {rid}
    assert dump["counts"] == [{"rid": rid, "name": "bytes", "value": 5}]


# ---- seeded mixes --------------------------------------------------------------


def _take(it, n):
    return [next(it) for _ in range(n)]


def test_egress_passes_are_seeded_permutations():
    a = _take(egress_passes(7), 5)
    assert a == _take(egress_passes(7), 5)
    assert a != _take(egress_passes(8), 5)
    assert all(sorted(p) == sorted(EGRESS_QUERIES) for p in a)


def test_ingest_ops_are_seeded_write_then_three_reads():
    cols = ("a", "b", "c", "d", "e")
    ops = _take(ingest_ops(11, 1000, cols, 100), 40)
    assert ops == _take(ingest_ops(11, 1000, cols, 100), 40)
    assert ops != _take(ingest_ops(12, 1000, cols, 100), 40)
    for i in range(0, 40, 4):
        w, fill, hit, proj = ops[i : i + 4]
        assert isinstance(w, Write) and 0 <= w.offset <= 900
        assert w.name == INGEST_NAMES[(i // 4) % 4]
        assert w.multipart == ((i // 4) % 2 == 1)
        assert (fill, hit) == (Read(w.name, "zstd", "fill"), Read(w.name, "zstd", "hit"))
        assert proj.name == w.name and proj.columns == ("a", "c", "e")
        assert proj.kind == f"projected {proj.strategy} {proj.batch_rows}"
    # every (coding, batch size) pair once per round
    every_pair = sorted((s, n) for s in PROJECTED_STRATEGIES for n in PROJECTED_BATCH_ROWS)
    projected = [(op.strategy, op.batch_rows) for op in ops[3::4]]
    assert sorted(projected[:INGEST_ROUND]) == every_pair
    assert projected[:INGEST_ROUND] != projected[INGEST_ROUND : 2 * INGEST_ROUND]


def test_headers_negotiate_ipc_codecs_through_accept():
    assert headers("gzip") == {"Accept-Encoding": "gzip"}
    h = headers("identity+lz4")
    assert h["Accept-Encoding"] == "identity" and 'codecs="lz4"' in h["Accept"]


# ---- /proc ---------------------------------------------------------------------


def _fake_proc(tmp_path, procs):
    for pid, (ppid, comm, ticks, hwm_kib, *state_sid) in procs.items():
        state, sid = state_sid or ("S", 0)
        d = tmp_path / str(pid)
        d.mkdir()
        rest = [state, str(ppid), "0", str(sid)] + ["0"] * 7 + [str(t) for t in ticks]
        rest += ["0"] * 10
        (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(rest) + "\n")
        (d / "status").write_text(f"Name:\t{comm}\nVmHWM:\t{hwm_kib} kB\nVmRSS:\t1 kB\n")
        (d / "comm").write_text(comm + "\n")
    (tmp_path / "self").mkdir()
    return str(tmp_path)


def test_proc_tree_walk_sums_cpu_and_peak_rss(tmp_path):
    hz = procstat.CLOCK_TICKS
    proc = _fake_proc(
        tmp_path,
        {
            1: (0, "init", (1, 1, 0, 0), 10),
            100: (1, "python server", (hz, 0, 0, 0), 1024),
            101: (100, "java (jvm)", (hz, hz, 0, 0), 2048),
            102: (101, "python) worker", (0, 0, hz, hz), 512),
            200: (1, "other", (50 * hz, 0, 0, 0), 4096),
        },
    )
    pids = procstat.tree(100, proc)
    assert pids == [100, 101, 102]
    assert procstat.cpu_seconds(pids, proc) == pytest.approx(5.0)
    assert procstat.peak_rss_mib(pids, proc) == pytest.approx(3.5)
    names = [procstat.name(p, proc) for p in pids]
    assert names == ["python server", "java (jvm)", "python) worker"]
    assert procstat.name(999, proc) is None


def test_proc_session_finds_members_outside_the_tree(tmp_path):
    proc = _fake_proc(
        tmp_path,
        {
            1: (0, "init", (0, 0, 0, 0), 0, "S", 1),
            100: (1, "server", (0, 0, 0, 0), 0, "Z", 100),  # ended, not yet reaped
            101: (100, "java", (0, 0, 0, 0), 0, "S", 100),
            102: (1, "daemon (own group)", (0, 0, 0, 0), 0, "S", 100),  # orphaned
            103: (102, "worker", (0, 0, 0, 0), 0, "Z", 100),
            200: (1, "other", (0, 0, 0, 0), 0, "S", 200),
        },
    )
    assert sorted(procstat.session(100, proc)) == [101, 102]
    assert procstat.tree(100, proc) == [100, 101]


def test_proc_tree_finds_a_live_child():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        deadline = time.monotonic() + 10
        while child.pid not in procstat.tree(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.05)
        assert child.pid in procstat.tree(os.getpid())
        assert procstat.peak_rss_mib([child.pid]) > 0
    finally:
        child.kill()
        child.wait(timeout=10)


# ---- per-layer aggregation -----------------------------------------------------


def test_parse_sql_metric_units():
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n1.5 MiB (1.0 KiB, ...)") == 1.5 * (1 << 20)
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n250 ms (10 ms, ...)") == pytest.approx(0.25)
    assert parse_sql_metric("2.0 s") == pytest.approx(2.0)


def test_per_layer_divides_by_requests_and_reports_every_metric():
    server = {
        "spans": [
            _span(1, 0.0, 4.0, name="server.request"),
            _span(2, 0.0, 1.0, 1, "operators.build"),
            _span(3, 1.0, 3.0, 1, "spark.action"),
            _span(4, 3.0, 4.0, 1, "ipc_stream.send"),
            _span(5, 3.2, 3.6, 4, "ipc_stream.encode"),
            _span(6, 3.3, 3.4, 5, "arrow_ipc.read"),
        ],
        "counts": [
            {"rid": 1, "name": "server.cache_lookups", "value": 4},
            {"rid": 1, "name": "server.cache_hits", "value": 3},
            {"rid": 1, "name": "server.cache_fills", "value": 1},
        ],
    }
    client = {"spans": [_span(10, 5.0, 5.5, name="client.decode")], "counts": []}
    spark = [
        {"rid": 1, "phase": "build", "jobs": 2, "stages": 2, "tasks": 8, "failed_tasks": 0,
         "executor_run_s": 1.0, "executor_cpu_s": 0.5, "input_bytes": 10,
         "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
         "python_init_s": 0.0, "python_run_s": 0.0, "python_bytes": 0.0},
        {"rid": 1, "phase": "action", "jobs": 1, "stages": 3, "tasks": 12, "failed_tasks": 0,
         "executor_run_s": 3.0, "executor_cpu_s": 2.5, "input_bytes": 30,
         "shuffle_read_bytes": 4, "shuffle_write_bytes": 4, "spill_bytes": 0,
         "python_init_s": 0.2, "python_run_s": 0.4, "python_bytes": 100.0},
    ]
    m = per_layer(server, client, spark, requests=2)
    assert set(m) == {name for name, _ in PER_LAYER}
    assert m["operators.build_s"] == pytest.approx(0.5)
    assert m["spark.action_s"] == pytest.approx(1.0)
    assert m["ipc_stream.send_s"] == pytest.approx(0.3)
    assert m["ipc_stream.encode_s"] == pytest.approx(0.15)
    assert m["arrow_ipc.read_s"] == pytest.approx(0.05)
    assert m["client.decode_s"] == pytest.approx(0.25)
    assert m["spark.jobs"] == pytest.approx(1.5)
    assert m["operators.build_jobs"] == pytest.approx(1.0)
    assert m["spark.executor_cpu_s"] == pytest.approx(1.5)
    assert m["server.cache_hit_ratio"] == pytest.approx(0.75)
    assert m["server.cache_hits"] == pytest.approx(1.5)


# ---- pooled metrics -----------------------------------------------------------


def test_metrics_pool_windows_and_leave_out_what_was_not_sampled():
    import run

    def window(reads, writes, failures, wall, cpu, rss):
        r = run.Run()
        for lat in reads:
            r.ok("q", lat, 100, 50, lat / 2)
        for lat in writes:
            r.ok("write", lat, 200, 200)
        for f in failures:
            r.fail(f)
        return run.Window(r, wall, cpu, rss, 2 * rss)

    m, info = run.metrics([
        window([0.1, 0.3], [1.0], [], 2.0, 3.0, 10.0),
        window([0.2], [], ["x"], 1.0, 0.0, 30.0),
        window([], [], [], 1.0, 1.0, 20.0),
    ])
    assert m["read_p50_gm_s"][0] == pytest.approx(0.2)  # one kind: its median
    assert m["ttfb_p50_gm_s"][0] == pytest.approx(0.1)
    assert info["read_p50_s"] == pytest.approx(0.2)
    assert m["requests_per_s"][0] == pytest.approx(4 / 4.0)
    assert m["server_cpu_s_per_request"][0] == pytest.approx(4.0 / 4)
    assert m["wire_bytes_per_payload_byte"][0] == pytest.approx(350 / 500)
    assert m["server_py_rss_mib"][0] == 20.0  # median of the servers' peaks
    assert info["jvm_rss_mib"] == 40.0
    assert (info["reads"], info["writes"], info["write_p50_s"]) == (3, 1, 1.0)
    assert "read_tail_s" not in info  # fewer than eleven reads

    # a window in which every request failed still yields a result
    m, info = run.metrics([window([], [], ["a", "b"], 1.0, 0.5, 5.0)])
    assert set(m) == {"requests_per_s", "payload_mib_per_s", "server_py_rss_mib"}
    assert m["requests_per_s"][0] == 0


# ---- tracing switch ------------------------------------------------------------


def test_tracing_switch_puts_back_the_engine_functions():
    import arrow_experiments_spark.transport.multipart as multipart
    import arrow_experiments_spark.transport.server as server
    from arrow_experiments_spark.transport.server import ArrowHttpHandler, DatasetRegistry

    from layers import Hooks, Tracing, TracedHooks

    names = [
        (ArrowHttpHandler, "do_GET"), (ArrowHttpHandler, "do_POST"),
        (DatasetRegistry, "identity_body"), (DatasetRegistry, "encoded_body"),
        (DatasetRegistry, "ipc_codec_body"), (DatasetRegistry, "register_table"),
        (multipart, "parse_multipart"), (multipart, "read_arrow_part"),
        (server, "decode_body"), (server, "encode_ipc_chunks"), (server, "write_chunked"),
    ]
    before = [getattr(o, a) for o, a in names]
    tracing = Tracing(None)
    assert type(tracing.hooks) is Hooks
    tracing.switch(True)
    assert tracing.rec.enabled and isinstance(tracing.hooks, TracedHooks)
    assert all(getattr(o, a) is not f for (o, a), f in zip(names, before))
    tracing.switch(False)
    assert not tracing.rec.enabled and type(tracing.hooks) is Hooks
    assert all(getattr(o, a) is f for (o, a), f in zip(names, before))
