"""Bench evidence-pipeline guards (VERDICT r5 items 1-2): the graded
artifacts must survive host-noise troughs — the trough detector flags
queries measuring >2x their historical best, and the executor-scaling
writer refuses to overwrite the headline artifact when the
machine-ceiling probe says the window itself is degraded."""

import json
import os


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


def test_scaling_writer_rejects_noisy_window(tmp_path):
    """A degraded machine-ceiling probe leaves executor_scaling_latest.json
    UNTOUCHED and logs the rejection to the history (the deliberately-
    induced-noisy-run criterion from VERDICT r5 item 2)."""
    from bench import write_scaling_artifacts

    d = str(tmp_path)
    clean = {"scaling_efficiency": 0.81, "machine_scaling_ceiling": 0.95,
             "measured_at": "T1"}
    assert write_scaling_artifacts(clean, bench_dir=d) is True
    latest = os.path.join(d, "executor_scaling_latest.json")
    with open(latest) as f:
        assert json.load(f)["measured_at"] == "T1"

    noisy = {"scaling_efficiency": 0.53, "machine_scaling_ceiling": 0.62,
             "measured_at": "T2"}
    assert write_scaling_artifacts(noisy, bench_dir=d) is False
    with open(latest) as f:
        assert json.load(f)["measured_at"] == "T1"  # untouched
    with open(os.path.join(d, "executor_scaling_history.jsonl")) as f:
        rows = [json.loads(l) for l in f]
    assert len(rows) == 2
    assert rows[1]["rejected_noisy_window"] is True
    assert "probe" in rows[1]["rejection_reason"]

    # a probe-less measurement can't be judged -> accepted (with the
    # best-of-history artifact still tracking the cleanest run)
    probeless = {"scaling_efficiency": 0.7, "machine_scaling_ceiling": None,
                 "measured_at": "T3"}
    assert write_scaling_artifacts(probeless, bench_dir=d) is True
    with open(latest) as f:
        assert json.load(f)["measured_at"] == "T3"
    with open(os.path.join(d, "executor_scaling.json")) as f:
        best = json.load(f)
    assert best["scaling_efficiency"] == 0.81  # best-of-history kept
    assert "best-of-history" in best["provenance"]


def test_compact_bench_line_fits_tail_capture():
    """The stdout line the driver tail-parses must stay far under the
    ~4 KB capture for a realistic 25-query payload (r5's full payload
    truncated to parsed:null)."""
    queries = {f"query_name_number_{i:02d}": round(1.234 + i, 3) for i in range(25)}
    compact = {
        "metric": ("headline per-query wall-time SUM, warm workers, warm-up "
                   "excluded; full payload in BENCH/bench_latest.json"),
        "value": 61.234,
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "wall_incl_warmup": 147.565,
        "scaling_efficiency_headline": 0.815,
        "full_payload": "BENCH/bench_latest.json",
    }
    assert len(json.dumps(compact)) < 2000


def test_geometry_band_rejects_fleet_trough(tmp_path):
    """VERDICT r6 item 1: the probe gate can't see fleet-side-only troughs
    (it runs solo-shaped processes), but efficiency IS comparable within
    one (exec_cores, worker_slots) geometry. A candidate below 0.8x its
    own geometry's best accepted efficiency is rejected even with a sane
    probe; a new geometry has no band and its first run is accepted."""
    import bench
    from bench import write_scaling_artifacts

    d = str(tmp_path)
    latest = os.path.join(d, "executor_scaling_latest.json")

    # seed: clean accepted run at the 8-core/7-slot geometry
    seed = {"scaling_efficiency": 0.90, "machine_scaling_ceiling": 0.95,
            "exec_cores": 8, "worker_slots": 7, "measured_at": "T1"}
    assert write_scaling_artifacts(seed, bench_dir=d) is True

    # fleet trough at the KNOWN geometry: probe sane, eff far below band
    trough = {"scaling_efficiency": 0.55, "machine_scaling_ceiling": 0.96,
              "exec_cores": 8, "worker_slots": 7, "measured_at": "T2"}
    assert write_scaling_artifacts(trough, bench_dir=d) is False
    with open(latest) as f:
        assert json.load(f)["measured_at"] == "T1"  # untouched
    with open(os.path.join(d, "executor_scaling_history.jsonl")) as f:
        rows = [json.loads(l) for l in f]
    assert rows[-1]["rejected_fleet_trough"] is True
    assert "fleet-side trough" in rows[-1]["rejection_reason"]

    # same low efficiency at a NEW geometry: no band -> accepted (seeds it)
    new_geo = {"scaling_efficiency": 0.55, "machine_scaling_ceiling": 0.96,
               "exec_cores": 4, "worker_slots": 3, "measured_at": "T3"}
    assert write_scaling_artifacts(new_geo, bench_dir=d) is True
    with open(latest) as f:
        assert json.load(f)["measured_at"] == "T3"

    # rejected entries never seed/shift a band: another trough at the new
    # geometry must compare against T3's 0.55, not the rejected 8/7 runs
    again = {"scaling_efficiency": 0.43, "machine_scaling_ceiling": 0.96,
             "exec_cores": 4, "worker_slots": 3, "measured_at": "T4"}
    assert write_scaling_artifacts(again, bench_dir=d) is False
    with open(latest) as f:
        assert json.load(f)["measured_at"] == "T3"

    # within-band run at the known geometry still accepted
    ok = {"scaling_efficiency": 0.78, "machine_scaling_ceiling": 0.96,
          "exec_cores": 8, "worker_slots": 7, "measured_at": "T5"}
    assert bench.GEOMETRY_BAND_FRACTION * 0.90 < 0.78
    assert write_scaling_artifacts(ok, bench_dir=d) is True


def test_best_of_history_excludes_superlinear_artifacts(tmp_path):
    """eff > 1.0 means the solo baseline ran in a slow host phase — such a
    run must never become the best-of-history artifact."""
    from bench import write_scaling_artifacts

    d = str(tmp_path)
    good = {"scaling_efficiency": 0.82, "machine_scaling_ceiling": 0.95,
            "measured_at": "T1"}
    assert write_scaling_artifacts(good, bench_dir=d)
    art = {"scaling_efficiency": 1.07, "machine_scaling_ceiling": 0.92,
           "measured_at": "T2"}
    assert write_scaling_artifacts(art, bench_dir=d)  # accepted as LATEST
    import json, os
    with open(os.path.join(d, "executor_scaling_latest.json")) as f:
        assert json.load(f)["measured_at"] == "T2"
    with open(os.path.join(d, "executor_scaling.json")) as f:
        best = json.load(f)
    assert best["measured_at"] == "T1" and best["scaling_efficiency"] == 0.82
    assert "excluded" in best["provenance"]
