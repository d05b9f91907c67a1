"""Bench evidence-pipeline guards: the trough detector flags queries
measuring >2x their historical best at the same (sf, cpus), and a headline
run prints a compact last line that fits a ~4 KB tail capture while writing
only under bench.py's BENCH directory."""

import importlib
import json
import os
import shutil
from pathlib import Path


def test_suspicious_queries_trough_detector():
    from bench import _suspicious_queries

    history = [
        {"a": 2.0, "b": 5.0},
        {"a": 3.5, "b": 40.0},  # a trough run in the history must not
        # raise the baseline: historical BEST is the reference
    ]
    # a at 2x best exactly is fine; b at >2x best flags
    assert _suspicious_queries({"a": 4.0, "b": 10.1}, history) == ["b"]
    assert _suspicious_queries({"a": 37.4, "b": 1.0}, history) == ["a"]
    # no history for a query -> never suspicious (nothing to compare)
    assert _suspicious_queries({"new": 99.0}, history) == []
    assert _suspicious_queries({"a": 1.0}, []) == []


def test_query_history_keyed_by_sf_and_cpus(tmp_path):
    """The trough detector compares only runs at the same (sf, cpus): a
    line without `cpus` was recorded at local[32] and is no baseline for a
    4-core run."""
    from bench import _load_query_history

    path = tmp_path / "query_history.jsonl"
    path.write_text("\n".join(json.dumps(e) for e in (
        {"sf": 0.1, "queries": {"a": 1.0}},
        {"sf": 0.1, "cpus": 4, "loadavg": [1.0, 1.5, 2.0], "queries": {"a": 4.0}},
        {"sf": 0.01, "cpus": 4, "queries": {"a": 0.5}},
    )) + "\n")
    assert _load_query_history(0.1, 4, str(path)) == [{"a": 4.0}]
    assert _load_query_history(0.1, 32, str(path)) == [{"a": 1.0}]


def test_compact_bench_line_fits_tail_capture(tmp_path, tmp_path_factory, monkeypatch, capsys):
    """bench.main() on a realistic 25-query payload prints a final line far
    under a ~4 KB stdout tail capture (r5's full payload truncated to
    parsed:null), stamps its history line with this host's CPU count and
    writes only under BENCH_DIR, whatever the current directory."""
    import bench

    repo_bench = Path(bench.BENCH_DIR)

    def contents():
        return {p.name: p.read_bytes() for p in repo_bench.iterdir() if p.is_file()}

    before = contents()
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    bench = importlib.reload(bench)
    for name in ("scaling.json", "executor_scaling_latest.json", "executor_scaling.json"):
        shutil.copy(repo_bench / name, tmp_path)
    queries = {f"query_name_number_{i:02d}": round(1.234 + i, 3) for i in range(25)}
    monkeypatch.setattr(bench, "run_queries", lambda sf_dir, cores: (dict(queries), {}))
    monkeypatch.setattr(bench, "BENCH_DIR", str(tmp_path))
    cwd = tmp_path_factory.mktemp("cwd")
    monkeypatch.chdir(cwd)

    bench.main()

    line = capsys.readouterr().out.splitlines()[-1]
    assert len(line) < 2000
    compact = json.loads(line)
    assert set(compact) == {
        "metric", "value", "unit", "queries", "sf", "wall_incl_warmup",
        "scaling_efficiency_headline", "full_payload",
    }
    with open(tmp_path / "executor_scaling_latest.json") as f:
        assert compact["scaling_efficiency_headline"] == json.load(f)["scaling_efficiency"]
    with open(tmp_path / "query_history.jsonl") as f:
        (entry,) = [json.loads(l) for l in f]
    assert entry["cpus"] == len(os.sched_getaffinity(0))
    assert entry["queries"] == queries
    assert (tmp_path / "bench_latest.json").exists()
    assert os.listdir(cwd) == []
    assert contents() == before
