"""Tests of the benchmark's own helpers (no JVM needed):

    python3 -m pytest perfbench -q
"""

import io
import json
import os
import random
import statistics

import numpy as np
import pyarrow as pa
import pytest

import gen
import run
import tracing
import workloads


def _hash_rows(rows):
    """Raw xxhash64 of (string, int list) rows, through the generator's
    vectorised path; all strings of one call have one length."""
    width = len(rows[0][0])
    ids = np.frombuffer(b"".join(r[0].encode() for r in rows) or b"",
                        dtype=np.uint8).reshape(len(rows), width)
    lens = np.array([len(r[1]) for r in rows], dtype=np.int64)
    flat = np.array([t for r in rows for t in r[1]], dtype=np.int32)
    return gen.row_hashes(ids, lens, flat)


# -- generator ----------------------------------------------------------------
def _ipc_bytes(table: pa.Table) -> bytes:
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue()


def test_generator_is_byte_identical_per_seed():
    a, b = gen.generate(3000, 7), gen.generate(3000, 7)
    assert _ipc_bytes(a.table) == _ipc_bytes(b.table)
    assert (a.checksum, a.by_source) == (b.checksum, b.by_source)
    assert _ipc_bytes(gen.generate(3000, 8).table) != _ipc_bytes(a.table)


def test_generator_shape_and_distribution():
    t = gen.generate(20_000, 3)
    ids = t.table.column("doc_id").to_pylist()
    assert ids == sorted(ids) and ids[0] == gen.doc_id(0)
    lens = t.table.column("n_tok").to_numpy()
    assert lens.min() >= 1 and lens.max() <= gen.LEN_MAX
    assert (t.table.column("tokens").combine_chunks().value_lengths()
            .to_numpy() == lens).all()
    assert t.n_tokens == int(lens.sum())
    flat = t.table.column("tokens").combine_chunks().flatten().to_numpy()
    assert flat.min() >= 0 and flat.max() < gen.VOCAB
    # Zipf(1.2): token 0 is 2^1.2 times as frequent as token 1
    assert abs((flat == 0).mean() / (flat == 1).mean() / 2 ** 1.2 - 1) < 0.05
    rows = {s: n for s, (n, _) in t.by_source.items()}
    assert set(rows) == set(gen.SOURCES) and sum(rows.values()) == 20_000
    assert abs(rows["web"] / 20_000 - 0.49) < 0.02
    assert sum(h for _, h in t.by_source.values()) == t.checksum


# -- checksum -----------------------------------------------------------------
# Spark 4.1: SELECT xxhash64('doc-000000001', array(1, 2, 3)), ...
SPARK_XXHASH64 = [
    ("doc-000000001", [1, 2, 3], 8928224310578537658),
    ("", [-5], -7714982198075064314),
    ("abcdefghijklmnopqrstuvwxyz01234", [2147483647], -4296465441986802076),
]


@pytest.mark.parametrize("text,tokens,want", SPARK_XXHASH64)
def test_xxhash64_matches_spark(text, tokens, want):
    assert int(_hash_rows([(text, tokens)])[0]) == want


def test_checksum_is_pmod_and_order_independent():
    t = gen.generate(2000, 5)
    assert t.row_sums.min() >= 0 and t.row_sums.max() < gen.MODULUS
    order = np.random.default_rng(0).permutation(t.n_docs)
    shuffled = t.table.take(pa.array(order))
    ids = np.frombuffer(
        "".join(shuffled.column("doc_id").to_pylist()).encode(),
        dtype=np.uint8).reshape(t.n_docs, -1)
    lens = shuffled.column("n_tok").to_numpy().astype(np.int64)
    flat = (shuffled.column("tokens").combine_chunks().flatten()
            .to_numpy())
    again = gen.row_checksums(ids, lens, flat)
    assert (again == t.row_sums[order]).all()
    assert int(again.sum()) == t.checksum


def test_checksum_sum_cannot_overflow_where_a_plain_sum_does():
    # 2^32 rows of the largest term still fit a signed 64-bit long ...
    assert (gen.MODULUS - 1) * 2 ** 32 < 2 ** 63
    terms = np.full(1_000_000, gen.MODULUS - 1, dtype=np.int64)
    assert int(terms.sum()) == (gen.MODULUS - 1) * 1_000_000
    # ... while the raw hashes of a small table already leave that range
    raw = [int(h) for h in _hash_rows([(gen.doc_id(i), [i])
                                       for i in range(4000)])]
    partial, overflowed = 0, False
    for h in raw:
        partial += h
        overflowed |= not -2 ** 63 <= partial < 2 ** 63
    assert overflowed


# -- statistics ---------------------------------------------------------------
@pytest.mark.parametrize("n,want", [(1, 50), (10, 50), (19, 50), (20, 50),
                                    (21, 52), (40, 75), (100, 90),
                                    (1000, 99), (10_000, 99)])
def test_tail_percentile(n, want):
    p = run.tail_percentile(n)
    assert p == want
    if n >= 20:
        assert n * (1 - p / 100) >= 10 - 1e-9
        assert n * (1 - (p + 1) / 100) < 10 or p == 99


def test_percentile_matches_linear_interpolation():
    xs = [random.Random(1).random() for _ in range(37)]
    assert run.percentile(xs, 50) == pytest.approx(statistics.median(xs))
    assert run.percentile(xs, 0) == min(xs)
    assert run.percentile(xs, 100) == max(xs)
    assert run.percentile(xs, 90) == pytest.approx(float(
        np.percentile(xs, 90)))


def test_reset_hwm_lowers_the_peak_to_the_current_rss():
    big = np.ones(32 << 20, dtype=np.uint8)   # touch 32 MiB
    del big
    before = run.vm_hwm_mib(os.getpid())
    run.reset_hwm(os.getpid())
    assert run.vm_hwm_mib(os.getpid()) < before - 16


# -- spans --------------------------------------------------------------------
def test_self_time_arithmetic():
    assert tracing.self_time(0.0, 10.0, []) == 10.0
    assert tracing.self_time(0.0, 10.0, [(1, 3), (5, 6)]) == 7.0
    # overlapping children count once
    assert tracing.self_time(0.0, 10.0, [(1, 4), (2, 5)]) == 6.0
    # children are clipped to the parent
    assert tracing.self_time(2.0, 6.0, [(0, 3), (5, 9)]) == 2.0
    assert tracing.self_time(0.0, 1.0, [(2, 3)]) == 1.0


def test_tracer_self_times_by_op():
    tr = tracing.Tracer(enabled=True)
    tr.op = "op-1"
    tr.spans = [tracing.Span("outer", 0.0, 10.0, None, "op-1"),
                tracing.Span("inner", 2.0, 5.0, 0, "op-1"),
                tracing.Span("leaf", 3.0, 4.0, 1, "op-1"),
                tracing.Span("outer", 20.0, 21.0, None, "op-2")]
    got = tr.self_times()
    assert got[("op-1", "outer")] == 7.0
    assert got[("op-1", "inner")] == 2.0
    assert got[("op-1", "leaf")] == 1.0
    assert got[("op-2", "outer")] == 1.0


def test_disabled_tracer_records_nothing():
    tr = tracing.Tracer(enabled=False)
    with tr.span("x"):
        tr.count("c", 1)
    assert tr.spans == [] and tr.counts == {}


def test_job_group_stats_folds_tasks_by_group():
    def task(stage, ms, py=None, sw_bytes=0, sw_ns=0, gc=0):
        accs = [{"Name": k, "Update": v} for k, v in (py or {}).items()]
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms,
                              "Accumulables": accs},
                "Task Metrics": {"JVM GC Time": gc, "Shuffle Write Metrics":
                                 {"Shuffle Bytes Written": sw_bytes,
                                  "Shuffle Write Time": sw_ns}}}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "op-1"}},
        task(0, 100, sw_bytes=2048, sw_ns=5e8, gc=30),
        task(0, 300, sw_bytes=2048, sw_ns=5e8),
        task(0, 100),
        task(1, 400, py={tracing.PY_SENT: 10, tracing.PY_RETURNED: 4,
                         tracing.PY_BOOT: 1500, tracing.PY_INIT: 500,
                         tracing.PY_RUN: 2000}),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        task(2, 50),
    ]
    got = tracing.job_group_stats(events)
    assert set(got) == {"op-1"}
    g = got["op-1"]
    assert (g.jobs, g.tasks) == (1, 4)
    assert (g.py_sent_bytes, g.py_returned_bytes) == (10, 4)
    assert g.py_boot_init_s == 2.0 and g.py_run_s == 2.0
    assert g.shuffle_write_bytes == 4096 and g.shuffle_write_s == 1.0
    assert g.gc_s == pytest.approx(0.03)
    assert g.task_skew == pytest.approx(3.0)  # widest stage: 300 / 100 ms


def test_benchmark_json_names_the_metrics_run_reports():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]}.items() \
        <= run.E2E_UNITS.items()
    assert run.gated(False) == [m["name"] for m in spec["end_to_end"]]
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == run.LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
