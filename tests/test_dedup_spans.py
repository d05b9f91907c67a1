"""Cross-document exact substring-span dedup (analytics.dedup_spans).

Semantics pinned here (Lee et al. 2022 shape, hashed-sliding-window
implementation): every duplicated run of >= w tokens is removed from all
but its globally-first occurrence (min (doc_id, pos)); overlapping
duplicated windows merge into maximal spans; cleaned text is the
canonical single-space re-join of the kept tokens. A brute-force
reference implementation over small corpora is the correctness bar, plus
the dual-hash-basis equivalence the driver oracle relies on."""

import pytest

from htmlx.spark.analytics import (
    dedup_spans,
    dedup_spans_variants,
    span_window_stats,
)
from htmlx.spark.session import get_spark

W = 15

# 18 tokens — longer than one window, shorter than two disjoint ones
BOILER = (
    "subscribe to our newsletter for the latest updates and exclusive "
    "offers delivered straight to your inbox every week"
)


@pytest.fixture(scope="module")
def spark():
    s = get_spark(cores=4, app_name="htmlx-dedup-spans-test")
    yield s
    s.stop()


def _run(spark, docs, w=W, basis="md5"):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    return {
        r["doc_id"]: r
        for r in dedup_spans(df, w=w, hash_basis=basis).collect()
    }


def _brute_force(docs, w=W):
    """Reference implementation: literal windows dict, first (doc, pos)
    occurrence wins, removed positions unioned per doc."""
    first = {}
    toks = {d: t.split(" ") for d, t in docs}
    for d, t in sorted(docs):
        for i in range(max(len(toks[d]) - w + 1, 0)):
            first.setdefault(tuple(toks[d][i : i + w]), (d, i))
    out = {}
    for d, _ in docs:
        removed = set()
        n_dup = 0
        for i in range(max(len(toks[d]) - w + 1, 0)):
            if first[tuple(toks[d][i : i + w])] != (d, i):
                removed.update(range(i, i + w))
                n_dup += 1
        kept = [t for i, t in enumerate(toks[d]) if i not in removed]
        out[d] = (len(removed), n_dup, " ".join(kept))
    return out


def test_matches_brute_force_on_crafted_corpus(spark):
    docs = [
        (0, "alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec " + BOILER),
        (1, "one two three four five six seven eight nine ten eleven "
            "twelve thirteen fourteen fifteen sixteen " + BOILER),
        (2, BOILER + " trailing tail after the shared block with its own "
            "distinct unique vocabulary continuing for a while longer"),
        (3, "totally unrelated text with no duplicated runs at all in it "
            "whatsoever nothing shared between documents here"),
        (4, "short doc"),
        # self-duplication: the same >=w-token run twice WITHIN one doc
        (5, " ".join(str(i) for i in range(20)) + " filler middle words "
            + " ".join(str(i) for i in range(20))),
    ]
    got = _run(spark, docs)
    want = _brute_force(docs)
    for d, _ in docs:
        assert got[d]["tokens_removed"] == want[d][0], d
        assert got[d]["n_dup_windows"] == want[d][1], d
        assert got[d]["cleaned_text"] == want[d][2], d


def test_first_occurrence_kept_verbatim(spark):
    docs = [(7, "x " + BOILER + " y"), (9, "z " + BOILER + " q")]
    got = _run(spark, docs)
    assert got[7]["cleaned_text"] == docs[0][1]
    assert got[7]["tokens_removed"] == 0
    assert BOILER not in got[9]["cleaned_text"]


def test_short_and_empty_docs_pass_through(spark):
    docs = [(1, "just a few words"), (2, ""), (3, "exactly fifteen tokens "
            + " ".join(f"t{i}" for i in range(12)))]
    got = _run(spark, docs)
    assert got[1]["n_windows"] == 0 and got[1]["cleaned_text"] == docs[0][1]
    assert got[2]["tokens_removed"] == 0
    # 15 tokens = exactly one window, unique -> untouched
    assert got[3]["n_windows"] == 1 and got[3]["tokens_removed"] == 0


def test_overlapping_windows_merge_to_maximal_span(spark):
    # a 30-token shared run: 16 duplicated windows must merge into ONE
    # 30-token removal, not 16*15 token-positions
    run = " ".join(f"w{i}" for i in range(30))
    docs = [(0, run + " first doc unique suffix tokens here"),
            (1, "second doc unique prefix " + run)]
    got = _run(spark, docs)
    assert got[0]["tokens_removed"] == 0
    assert got[1]["tokens_removed"] == 30
    assert got[1]["n_dup_windows"] == 16
    assert got[1]["cleaned_text"] == "second doc unique prefix"


def test_hash_basis_equivalence(spark):
    docs = [
        (0, "a b " + BOILER + " c d"),
        (1, BOILER + " e f g h i j k l m n o p q r s t u v"),
        (2, "completely different words everywhere nothing in common at "
            "all with any other document in this tiny corpus"),
    ]
    got_md5 = _run(spark, docs, basis="md5")
    got_xx = _run(spark, docs, basis="xxhash64")
    for d in got_md5:
        assert got_md5[d]["cleaned_text"] == got_xx[d]["cleaned_text"]
        assert got_md5[d]["tokens_removed"] == got_xx[d]["tokens_removed"]


def test_all_catalyst_no_python(spark):
    """The whole plan must stay JVM-side: no BatchEvalPython /
    ArrowEvalPython / mapInPandas stages."""
    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    plan = dedup_spans(df)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def _cap_corpus():
    """12 docs share BOILER (its 4 pure-boiler windows occur 12x — over a
    cap of 10); docs 100/101 share a 15-token run (1 window, 2x — under
    the cap). Prefixes are per-doc unique so straddling windows never
    collide."""
    run = " ".join(f"dup{i}" for i in range(W))
    docs = [(i, f"doc number{i} carries its own unique prefix words "
             + BOILER) for i in range(12)]
    docs += [
        (100, run + " plus a unique suffix for the first occurrence doc"),
        (101, "another document carrying the duplicated run " + run),
    ]
    return docs


def test_hot_key_cap_keeps_template_windows(spark):
    """VERDICT r6 item 5: windows over max_occurrences are template
    text — dropped from the survivor table (their occurrences are NOT
    removed; host_template_lines owns them), while under-cap duplicates
    still dedup exactly as before."""
    docs = _cap_corpus()
    capped = _run_capped(spark, docs, cap=10)
    uncapped = _run(spark, docs)
    for i in range(12):
        # uncapped: every boiler copy after doc 0's is removed
        if i > 0:
            assert uncapped[i]["tokens_removed"] > 0, i
        # capped: the 12x boiler windows are over the cap -> kept verbatim
        assert capped[i]["tokens_removed"] == 0, i
        assert capped[i]["cleaned_text"] == docs[i][1], i
    # the 2x run is under the cap in both variants: second copy removed
    for got in (capped, uncapped):
        assert got[100]["tokens_removed"] == 0
        assert got[101]["tokens_removed"] == W
        assert "dup0" not in got[101]["cleaned_text"]


def _run_capped(spark, docs, cap, w=W, basis="md5"):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    return {
        r["doc_id"]: r
        for r in dedup_spans(
            df, w=w, hash_basis=basis, max_occurrences=cap
        ).collect()
    }


def test_span_window_stats_reports_cap(spark):
    """'No silent caps': the stats row counts exactly the windows a cap
    drops, replayed independently with a Python window-count dict."""
    docs = _cap_corpus()
    counts = {}
    for d, t in docs:
        toks = t.split(" ")
        for i in range(max(len(toks) - W + 1, 0)):
            k = tuple(toks[i : i + W])
            counts[k] = counts.get(k, 0) + 1
    cap = 10
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = span_window_stats(
        df, w=W, max_occurrences=cap, hash_basis="md5"
    ).collect()[0]
    assert got["n_distinct_windows"] == len(counts)
    assert got["max_window_occurrences"] == max(counts.values())
    assert got["capped_wkeys"] == sum(1 for c in counts.values() if c > cap)
    assert got["capped_occurrences"] == sum(
        c for c in counts.values() if c > cap
    )
    # cap=None -> capped_* report zero, distribution unchanged
    free = span_window_stats(df, w=W, hash_basis="md5").collect()[0]
    assert free["n_distinct_windows"] == len(counts)
    assert free["capped_wkeys"] == 0 and free["capped_occurrences"] == 0


def test_variants_one_pass_matches_separate_calls(spark):
    """dedup_spans_variants must return per-variant results identical to
    running dedup_spans once per cap policy — while executing the window
    hash/survivor machinery ONCE (two posexplode generates: the survivor
    aggregate side and the back-join probe side — NOT two per variant)."""
    docs = _cap_corpus()
    df = spark.createDataFrame(docs, "doc_id long, text string")
    both = dedup_spans_variants(
        df, w=W, hash_basis="md5", caps={"free": None, "capped": 10}
    )
    rows = {(r["variant"], r["doc_id"]): r for r in both.collect()}
    assert len(rows) == 2 * len(docs)
    free = _run(spark, docs)
    capped = _run_capped(spark, docs, cap=10)
    for d, _ in docs:
        for v, want in (("free", free), ("capped", capped)):
            assert rows[(v, d)]["cleaned_text"] == want[d]["cleaned_text"], (v, d)
            assert rows[(v, d)]["tokens_removed"] == want[d]["tokens_removed"]
            assert rows[(v, d)]["n_dup_windows"] == want[d]["n_dup_windows"]
    plan = both._jdf.queryExecution().executedPlan().toString()
    assert plan.count("posexplode") <= 2, plan.count("posexplode")
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_span_window_stats_empty_corpus_zeros(spark):
    """F.sum over zero rows is NULL — on an empty corpus the capped_*
    columns must still come back 0 (Spark's concat_ws skips NULLs while
    SQL '||' propagates them: a silent cross-engine divergence if this
    ever regressed — r7 ADVICE finding)."""
    df = spark.createDataFrame([], "doc_id long, text string")
    got = span_window_stats(df, w=W, max_occurrences=5, hash_basis="md5").collect()[0]
    assert got["n_distinct_windows"] == 0
    assert got["max_window_occurrences"] == 0
    assert got["capped_wkeys"] == 0 and got["capped_occurrences"] == 0


def test_all_capped_variants_prefilter_matches_separate_calls(spark):
    """When EVERY variant is capped, survivors over the loosest cap are
    dropped BEFORE the back-join (the hot-key perf contract, r7 ADVICE);
    results must still match per-cap dedup_spans exactly."""
    docs = _cap_corpus()
    df = spark.createDataFrame(docs, "doc_id long, text string")
    both = dedup_spans_variants(
        df, w=W, hash_basis="md5", caps={"tight": 3, "loose": 10}
    )
    rows = {(r["variant"], r["doc_id"]): r for r in both.collect()}
    for v, cap in (("tight", 3), ("loose", 10)):
        want = _run_capped(spark, docs, cap=cap)
        for d, _ in docs:
            assert rows[(v, d)]["cleaned_text"] == want[d]["cleaned_text"], (v, d)
            assert rows[(v, d)]["tokens_removed"] == want[d]["tokens_removed"]
    # the pre-join survivor filter on __occ is present in the optimized plan
    plan = both._jdf.queryExecution().optimizedPlan().toString()
    assert "__occ" in plan


def test_capped_plan_stays_jvm_side(spark):
    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    plan = (
        dedup_spans(df, max_occurrences=64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_curate_spandedup_cli_cap_flag(spark, tmp_path, monkeypatch):
    """--span-max-occurrences reaches dedup_spans: over-cap template
    windows survive in every doc through the real CLI path."""
    import sys

    from jobs.curate import main

    docs = _cap_corpus()
    inp, outp = str(tmp_path / "in.parquet"), str(tmp_path / "out.parquet")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(inp)
    monkeypatch.setattr(sys, "argv", [
        "curate.py", "--input", inp, "--output", outp,
        "--mode", "spandedup", "--span-window", str(W),
        "--span-max-occurrences", "10",
    ])
    main()
    got = {r["doc_id"]: r for r in spark.read.parquet(outp).collect()}
    for i in range(12):  # 12x boiler windows: over the cap -> kept
        assert got[i]["tokens_removed"] == 0, i
    assert got[101]["tokens_removed"] == W  # 2x run: under the cap -> removed
