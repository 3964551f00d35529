"""Tests of the benchmark's own logic: python3 -m pytest perfbench"""
import filecmp
import os

import pytest

import check
import gen
import metrics


def _files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


def _generate(d, seed):
    gen.tables(os.path.join(d, "data"), seed, 0.001)
    gen.corpus(os.path.join(d, "corpus"), os.path.join(d, "docs.parquet"), seed, 4, 20_000)


def test_generator_same_seed_gives_identical_bytes(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    _generate(str(a), 7)
    _generate(str(b), 7)
    _generate(str(c), 8)
    names = _files(a)
    assert names == _files(b) and len(names) == len(gen.TABLES) + 4 + 1
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert mismatch == [] and errors == []
    _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert "corpus/pg-00.txt" in differ and "data/lineitem.parquet" in differ


def test_corpus_words_are_letter_runs_with_capitalised_variants(tmp_path):
    names = gen.corpus(str(tmp_path / "c"), str(tmp_path / "d.parquet"), 3, 2, 50_000)
    text = "".join(open(tmp_path / "c" / n, encoding="utf-8").read() for n in names)
    words = check.WORD.findall(text)
    assert any(not w.isascii() for w in words)
    caps = sum(w[0].isupper() for w in words) / len(words)
    assert 0.03 < caps < 0.07
    assert any(ch.isdigit() for ch in text)


@pytest.mark.parametrize("n,p", [(9, None), (19, None), (20, 50), (99, 50),
                                 (100, 90), (199, 90), (200, 95), (1000, 99),
                                 (10_000, 99.9)])
def test_highest_percentile_keeps_ten_samples_beyond_it(n, p):
    assert metrics.highest_percentile(n) == p


def test_percentile_interpolates():
    xs = [float(i) for i in range(1, 101)]
    assert metrics.percentile(xs, 50) == pytest.approx(50.5)
    assert metrics.percentile(xs, 90) == pytest.approx(90.1)
    assert metrics.percentile([3.0], 90) == 3.0


def test_self_time_subtracts_the_union_of_overlapping_children():
    # children overlap each other ([10,30] and [20,50]) and one sticks out
    # of the parent ([90,120]): covered = 40 + 10
    assert metrics.self_time(0, 100, [(10, 30), (20, 50), (90, 120)]) == 50
    assert metrics.self_time(0, 100, []) == 100
    assert metrics.self_time(0, 100, [(0, 100), (10, 20)]) == 0
    assert metrics.self_time(0, 100, [(150, 200)]) == 100


def test_failures_count_thrown_jobs_and_wrong_outputs():
    execs = [{"job": "a", "pass": 0, "error": None},
             {"job": "b", "pass": 0, "error": "AnalysisException: boom"},
             {"job": "a", "pass": 1, "error": None},
             {"job": "b", "pass": 1, "error": None}]
    attempted, failed, causes = metrics.failures(execs, {2: "rows 3 != oracle 4"})
    assert (attempted, failed) == (4, 2)
    assert causes == [{"job": "b", "pass": 0, "cause": "threw: AnalysisException: boom"},
                      {"job": "a", "pass": 1, "cause": "rows 3 != oracle 4"}]
    assert metrics.failures(execs[:1], {}) == (1, 0, [])


def test_fold_matches_the_reference_apps():
    files = [("x.txt", "Héllo, world 42world\nhéllo"), ("y.txt", "world.")]
    want = check.fold(files)
    assert want["mr_wc_compat"] == ["Héllo 1", "héllo 1", "world 3"]
    assert want["mr_indexer_compat"] == ["Héllo 1 x.txt", "héllo 1 x.txt",
                                         "world 2 x.txt,y.txt"]
    assert want["mr_indexer"] == [("Héllo", 1, "doc_0"), ("héllo", 1, "doc_0"),
                                  ("world", 2, "doc_0,doc_1")]
    assert want["stats"] == {"files": 2, "bytes": 34, "tokens": 5, "distinct_words": 3}


def test_check_mr_names_the_first_differing_key(tmp_path):
    want = check.fold([("x.txt", "a b b")])
    (tmp_path / "part-00000").write_text("a 1\nb 3\n")
    assert "b 2" in check.check_mr("mr_wc_compat", str(tmp_path), want)
    (tmp_path / "part-00000").write_text("b 2\na 1\n")
    assert check.check_mr("mr_wc_compat", str(tmp_path), want) is None


def _report():
    """One traced pass [0, 10 s] between two untraced ones, with one job:
    build [0,2], exec [2,9] holding two stages [3,5] and [4,7] (ms in the
    stage records), release [9,10]."""
    s = lambda i, parent, name, a, b, attrs=None: {
        "id": i, "parent": parent, "run": 1, "name": name,
        "start_us": a * 1_000_000, "end_us": b * 1_000_000, "attrs": attrs or {}}
    stage = lambda sid, a, b, runs: {
        "id": sid, "attempt": 0, "span": 4, "num_tasks": len(runs), "submit_ms": a * 1000,
        "complete_ms": b * 1000, "failed": False, "tasks": len(runs), "failed_tasks": 0,
        "run_ms": runs, "cpu_ns": 0, "gc_ms": 0, "sched_delay_ms": 0, "in_records": 0,
        "in_tasks": 0, "shw_bytes": 0, "shw_records": 0, "shw_ns": 0, "shr_bytes": 0,
        "shr_records": 0, "fetch_ms": 0, "spill_mem": 0, "spill_disk": 0, "out_records": 0}
    return {
        "cores": 4, "setup_s": [3.0, 1.0, 2.0],
        "spans": [s(1, 0, "pass", 0, 10), s(2, 1, "job", 0, 10, {"job": "q"}),
                  s(3, 2, "build", 0, 2), s(4, 2, "exec", 2, 9), s(5, 2, "release", 9, 10)],
        "stages": [stage(1, 3, 5, [1000, 1000, 1000, 4000]), stage(2, 4, 7, [2000])],
        "jobs": [{"id": 1, "span": 4}], "blocks": [], "scans": [],
        "passes": [{"pass": 0, "traced": False, "start_us": 0, "end_us": 9_000_000},
                   {"pass": 1, "traced": True, "start_us": 0, "end_us": 10_000_000},
                   {"pass": 2, "traced": False, "start_us": 0, "end_us": 8_000_000}],
    }


def test_layers_from_spans_and_stages():
    got = metrics.layers(_report())
    assert got["exec.s"] == 7 and got["operators.build_s"] == 2
    assert got["exec.driver_gap_s"] == 3  # exec [2,9] minus stages' union [3,7]
    assert got["exec.core_busy"] == pytest.approx(9 / (10 * 4))
    # stage 1: max 4000 / median 1000; the 1-task stage has no skew
    assert got["exec.stage_skew"] == 4
    # traced 10 s against the untraced pass after it (8 s)
    assert got["trace.coverage"] == 1 and got["trace.overhead_s"] == 2
    assert got["graft.session_s"] == 2 and got["exec.jobs"] == 1


def test_compat_map_stage_is_the_first_stage_of_the_runfiles_span():
    # one compat job: exec [0,10] around MRJob.runFiles holding the map
    # stage (2 tasks, [1,6]) and the mr-out write stage (10 tasks, [6,9])
    r = _report()
    r["spans"] = [{"id": 1, "parent": 0, "run": 0, "name": "pass", "start_us": 0,
                   "end_us": 10_000_000, "attrs": {}},
                  {"id": 2, "parent": 1, "run": 1, "name": "job", "start_us": 0,
                   "end_us": 10_000_000, "attrs": {"job": "mr_wc_compat"}},
                  {"id": 4, "parent": 2, "run": 1, "name": "exec", "start_us": 0,
                   "end_us": 10_000_000, "attrs": {}}]
    mapst, write = r["stages"]
    mapst.update(id=7, num_tasks=2, submit_ms=1000, complete_ms=6000, shw_records=30,
                 shw_bytes=600)
    write.update(id=9, num_tasks=10, submit_ms=6000, complete_ms=9000, out_records=10,
                 shr_bytes=600)
    got = metrics.layers(r)
    assert got["mr.map_tasks"] == 2
    assert got["shuffle.stage_share"] == pytest.approx(0.8)  # [1,9] of [0,10]
    assert got["mr.read_s"] == 5 and got["mr.write_s"] == 3
    assert got["mr.pairs_per_key"] == 3


def test_blocks_left_counts_the_timeline_at_each_job_start():
    # 3 blocks stored at 0.5 s, an unpersist at 1.5 s drops them all; the
    # job starting at 0 s sees none, one starting at 1 s sees 3
    r = _report()
    r["spans"][1]["start_us"] = 1_000_000
    r["blocks"] = [[500, 3, 300], [1500, 0, 0]]
    got = metrics.layers(r)
    assert got["graft.blocks_left"] == 3
    assert got["storage.peak_mb"] == pytest.approx(300 / metrics.MB)
    r["spans"][1]["start_us"] = 2_000_000
    assert metrics.layers(r)["graft.blocks_left"] == 0


def test_scans_per_file_counts_listed_files_over_the_files_queried():
    r = _report()
    r["spans"][1]["attrs"]["input_files"] = 2
    r["scans"] = [[100, 2, 4096], [200, 3, 6144], [20_000, 9, 1]]  # the last is after the pass
    got = metrics.layers(r)
    assert got["tables.scans_per_file"] == 2.5
    assert got["tables.scan_mb"] == pytest.approx(10240 / metrics.MB)
