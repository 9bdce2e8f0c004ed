"""Tests for the benchmark's own code: the event-log parser on a small
recorded log, and the determinism of every seed -> input generator.

    python -m pytest perfbench -q
"""

import os

import eventlog
import inputs

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LOG = os.path.join(os.path.dirname(__file__), "testdata", "eventlog_small.jsonl")


# ------------------------------------------------------------ event log
# The recorded log holds two job groups: ``g.shuffle`` (a two-partition
# groupBy count; AQE skips the re-planned shuffle map stage) and
# ``g.python`` (a two-partition mapInPandas).


def test_parse_charges_jobs_stages_tasks_to_groups():
    stats = eventlog.parse(LOG)
    assert set(stats) == {"g.shuffle", "g.python"}
    sh, py = stats["g.shuffle"], stats["g.python"]
    assert (sh.jobs, sh.stages, sh.tasks) == (2, 2, 3)
    assert (py.jobs, py.stages, py.tasks) == (1, 1, 2)
    assert sh.stage_ids == {0, 2}


def test_parse_reads_task_and_shuffle_metrics():
    sh = eventlog.parse(LOG)["g.shuffle"]
    assert sh.shuffle_write_bytes == 770
    assert sh.shuffle_read_bytes == 770
    assert (sh.task_run_ms, sh.task_cpu_ns, sh.gc_ms) == (736, 471235661, 59)
    assert sh.spill_bytes == 0 and sh.python_stages == 0


def test_parse_reads_python_sql_metrics():
    py = eventlog.parse(LOG)["g.python"]
    assert (py.python_bytes_in, py.python_bytes_out) == (4480, 8448)
    assert py.python_stages == 1
    assert py.shuffle_write_bytes == 0


def test_total_sums_groups_by_prefix():
    stats = eventlog.parse(LOG)
    both = eventlog.total(stats, "g.")
    assert both.jobs == 3 and both.tasks == 5
    assert both.stage_ids == {0, 2, 3}
    assert eventlog.total(stats, "nope").jobs == 0


def test_untagged_jobs_go_to_the_empty_group():
    lines = [
        '{"Event":"SparkListenerJobStart","Job ID":0,"Properties":{}}',
        '{"Event":"SparkListenerStageSubmitted","Stage Info":{"Stage ID":5}}',
        '{"Event":"SparkListenerTaskEnd","Stage ID":5,"Task Metrics":'
        '{"Executor Run Time":7}}',
    ]
    st = eventlog.parse_lines(lines)[""]
    assert (st.jobs, st.tasks, st.task_run_ms) == (1, 1, 7)


# ----------------------------------------------------------- generators


def test_documents_are_a_function_of_the_seed():
    a = inputs.documents_table(3, 200, VOCAB)
    assert a.equals(inputs.documents_table(3, 200, VOCAB))
    assert not a.equals(inputs.documents_table(4, 200, VOCAB))
    texts = a.column("text").to_pylist()
    assert all(set(t.split()) <= set(VOCAB) for t in texts)
    assert a.column("n_chars").to_pylist() == [len(t) for t in texts]
    dups = [t for t in texts if t.endswith(" dup")]
    assert len(dups) == 200 // 20
    assert all(t[: -len(" dup")] in texts for t in dups)
    assert all(10 <= len(t.split()) <= 99 for t in texts if t not in dups)


def test_embeddings_and_tpch_are_a_function_of_the_seed():
    assert inputs.embeddings_table(3, 100).equals(inputs.embeddings_table(3, 100))
    assert not inputs.embeddings_table(3, 100).equals(inputs.embeddings_table(4, 100))
    a, b = inputs.tpch_tables(3, 1500), inputs.tpch_tables(3, 1500)
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["lineitem"].equals(inputs.tpch_tables(4, 1500)["lineitem"])
    assert (a["lineitem"].num_rows, a["supplier"].num_rows) == (6000, 10)


def test_page_window_is_seeded_and_case_aligned():
    lo, n = inputs.page_window(9, 4000)
    assert (lo, n) == inputs.page_window(9, 4000)
    assert lo % 8 == 0 and n == 4000
    assert inputs.page_window(10, 4000)[0] != lo


def test_keystroke_session_is_seeded_and_oracle_backed():
    from tika_xapian_spark.plans import oracles

    s = inputs.keystroke_session(5, VOCAB, 3)
    assert s == inputs.keystroke_session(5, VOCAB, 3)
    assert s != inputs.keystroke_session(6, VOCAB, 3)
    for r in s:
        assert callable(getattr(oracles, r.oracle))
        if r.partial:
            assert r.oracle == "partial" and " " not in r.query
    # every block holds every finished shape and every prefix length, in
    # the same order
    assert len(s) == 3 * inputs.BLOCK
    for i in range(0, len(s), inputs.BLOCK):
        block = s[i : i + inputs.BLOCK]
        assert [(r.oracle, len(r.query) if r.partial else None) for r in block] == [
            ("partial", 1), ("bm25_topk", None), ("partial", 2), ("bool_op", None),
            ("partial", 3), ("phrase", None), ("near", None), ("lovehate", None),
            ("wildcard", None),
        ]


def test_upsert_inputs_are_seeded():
    assert inputs.edit_words(2, 1, 8) == inputs.edit_words(2, 1, 8)
    assert inputs.edit_words(2, 1, 8) != inputs.edit_words(2, 0, 8)
    assert all(not set(w) & set("aeiouy") for w in inputs.edit_words(2, 1, 8))
    ids = inputs.upsert_ids(2, 0, 800, 512, 8)
    assert ids == inputs.upsert_ids(2, 0, 800, 512, 8)
    assert len(set(ids)) == 8 and all(800 <= i < 1312 and i % 8 <= 4 for i in ids)


# ------------------------------------------------------------ host probe


def test_reference_cpu_s_scales_each_process_kind_by_its_kernel():
    import harness

    probe = harness.HostProbe(1)
    try:
        probe.python = [harness.PYTHON_KERNEL_REF_S * 2] * 3  # Python runs at half speed
        probe.jvm = [harness.JVM_KERNEL_REF_S / 2, harness.JVM_KERNEL_REF_S / 2]
        # (JVM, Python workers, client thread)
        assert abs(probe.reference_cpu_s((1.0, 3.0, 1.0)) - (2.0 + 2.0)) < 1e-9
    finally:
        probe.close()


def test_tree_cpu_s_counts_the_calling_thread():
    import harness

    before = harness.tree_cpu_s(os.getpid())
    harness.python_kernel()
    jvm, workers, client = harness.diff(harness.tree_cpu_s(os.getpid()), before)
    assert client > 0 and workers >= 0 and jvm >= client - 0.02
