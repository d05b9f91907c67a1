"""Connected-components keep-list over near-dup pairs: the step that makes
transitive near-dups (A~B~C with A!~C) dedup consistently."""

import pytest

from pyspark.sql import functions as F

from htmlx.spark.analytics import near_dup_components, propagate_min_labels
from htmlx.spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(cores=4, app_name="htmlx-components-test")
    yield s
    s.stop()


def _run(spark, n_docs, edges):
    docs = spark.createDataFrame([(i,) for i in range(n_docs)], "doc_id long")
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = near_dup_components(docs, pairs)
    return {r.doc_id: (r.keep_doc_id, r.is_dup) for r in out.collect()}

def test_transitive_chain_collapses_to_min(spark):
    # 1-2-3 chain (1!~3 directly) plus 5-6; 0 and 4 singletons
    got = _run(spark, 7, [(1, 2), (2, 3), (5, 6)])
    assert got == {
        0: (0, False), 1: (1, False), 2: (1, True), 3: (1, True),
        4: (4, False), 5: (5, False), 6: (5, True),
    }


def test_long_chain_within_iteration_budget(spark):
    # a diameter-5 path: 9-8-7-6-5-4 -> all label 4
    edges = [(i, i + 1) for i in range(4, 9)]
    got = _run(spark, 10, edges)
    assert all(got[i] == (4, i != 4) for i in range(4, 10))


def test_converges_at_any_diameter(spark):
    # diameter 7 needs 7 propagation rounds; the default call converges
    edges = [(i, i + 1) for i in range(0, 7)]
    got = _run(spark, 8, edges)
    assert all(got[i] == (0, i != 0) for i in range(8))


def test_keep_list_consistency_against_corpus(spark):
    """On the real corpus: keep_doc_id is idempotent (the keeper's keeper is
    itself) and every near-dup pair lands in one component."""
    from htmlx.spark.analytics import minhash_lsh_candidates, ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    cands = minhash_lsh_candidates(docs, max_bucket_size=None)
    verified = ngram_jaccard_pairs(docs, cands).where("jaccard >= 0.9").select("doc_a", "doc_b")
    comp = near_dup_components(docs, verified).cache()
    keep = {r.doc_id: r.keep_doc_id for r in comp.collect()}
    assert all(keep[k] == k for k in set(keep.values()))  # keepers keep themselves
    for r in verified.collect():
        assert keep[r.doc_a] == keep[r.doc_b]
    assert sum(1 for d, k in keep.items() if d != k) > 0  # injected dups exist


def test_group_col_runs_independent_problems_in_one_chain(spark):
    """Group keys (r8): two different edge sets keyed by a variant tag
    must produce exactly the per-variant results of separate calls —
    labels must NOT leak across groups even when the same doc_id has
    different components in each. Driven the way corpus_filter uses it:
    propagate_min_labels keyed by the tag, then a left join + coalesce."""
    edges_a = [(1, 2), (2, 3), (5, 6)]
    edges_b = [(3, 4)]  # doc 3 is a dup of 1's component in A, of 3..4 in B
    docs = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    tagged = spark.createDataFrame(
        [("a", x, y) for x, y in edges_a] + [("b", x, y) for x, y in edges_b],
        "variant string, doc_a long, doc_b long",
    )
    docs_v = docs.select(
        F.explode(F.array(F.lit("a"), F.lit("b"))).alias("variant"), "doc_id"
    )
    labels = propagate_min_labels(tagged, ["variant"])
    keep = F.coalesce("label", "doc_id")
    got = {
        (r.variant, r.doc_id): (r.keep_doc_id, r.is_dup)
        for r in docs_v.join(labels, ["variant", "doc_id"], "left")
        .select(
            "variant",
            "doc_id",
            keep.alias("keep_doc_id"),
            (F.col("doc_id") != keep).alias("is_dup"),
        )
        .collect()
    }
    assert len(got) == 14
    for v, edges in (("a", edges_a), ("b", edges_b)):
        want = _run(spark, 7, edges)
        for i in range(7):
            assert got[(v, i)] == want[i], (v, i)


def test_pair_set_is_read_once(spark):
    """The symmetric edge set is one explode over the pairs, not a union
    of two selects, so the upstream pair pipeline (LSH + Jaccard at the
    query rows) runs once however many rounds propagation takes."""
    seen = spark.sparkContext.accumulator(0)

    def identity(batches):
        for b in batches:
            seen.add(len(b))
            yield b

    edges = [(1, 2), (2, 3), (5, 6), (7, 8), (8, 9), (9, 10), (10, 11)]
    raw = spark.createDataFrame(edges, "doc_a long, doc_b long")
    pairs = raw.mapInPandas(identity, raw.schema)
    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    near_dup_components(docs, pairs).collect()
    assert seen.value == len(edges)


def test_corpus_filter_holds_one_persisted_frame(spark):
    """Building and running corpus_filter leaves exactly one persisted
    RDD behind (the keep-list labels): no module-global pair cache, and
    the edge set is released inside propagate_min_labels."""
    from htmlx.spark.entryqueries import q_corpus_filter

    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    q_corpus_filter(spark, SF_DIR).collect()
    assert jsc.getPersistentRDDs().size() - before == 1
    spark.catalog.clearCache()


def test_corpus_filter_variants_matches_separate_frames(spark):
    """The merged corpus_filter variants row must agree per-variant with
    the single-config corpus_filter_frame it replaced (r7 VERDICT item 3
    — one shared subplan instead of two full recomputations)."""
    from htmlx.spark.analytics import corpus_filter
    from tests.oracles import corpus_filter_frame

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    merged = corpus_filter(
        docs, {"oracle": ("md5", None), "production": ("xxhash64", 1024)}, 0.9
    )
    got = {
        (r.variant, r.doc_id): (r.reason, r.keep) for r in merged.collect()
    }
    for v, (basis, cap) in (
        ("oracle", ("md5", None)),
        ("production", ("xxhash64", 1024)),
    ):
        want = {
            r.doc_id: (r.reason, r.keep)
            for r in corpus_filter_frame(docs, basis, cap).collect()
        }
        assert {d: got[(v, d)] for d in want} == want, v
