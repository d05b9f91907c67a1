"""Physical-plan assertions: the plans we want, not just plans that pass.

Pins the scale-critical properties: broadcast ANN join, map-side partial
aggregation for dedup, pruned scans, bounded shuffle counts (SURVEY.md §4).
"""

import pytest

from htmlx.spark.analytics import ann_topk, dedup_exact, minhash_lsh_candidates, token_stats
from htmlx.spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(cores=4, app_name="htmlx-plan-test")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ann_broadcasts_queries(emb):
    p = plan_of(ann_topk(emb))
    assert "BroadcastExchange" in p or "BroadcastNestedLoopJoin" in p
    # only the top-k window ranking shuffles
    assert p.count("Exchange hashpartitioning") <= 1


def test_dedup_partial_aggregation(docs):
    p = plan_of(dedup_exact(docs))
    assert "partial_" in p  # map-side combine before the shuffle
    assert p.count("Exchange hashpartitioning") == 1


def test_dedup_scan_pruned(docs):
    p = plan_of(dedup_exact(docs))
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p


def test_paragraph_dedup_semantics_and_plan(spark):
    """CCNet-style paragraph dedup: a paragraph shared by 3 docs
    collapses to one row keeping the minimum doc_id; unique paragraphs
    keep dup_count 1. One partial-agg'd digest-key shuffle, no corpus
    broadcast."""
    from htmlx.spark.analytics import dedup_paragraphs, split_paragraphs

    boiler = "subscribe now"
    corpus = spark.createDataFrame(
        [
            (7, f"alpha beta\n{boiler}"),
            (3, f"gamma delta\n{boiler}"),
            (5, f"{boiler}\nepsilon zeta"),
        ],
        "doc_id long, text string",
    )
    paras = split_paragraphs(corpus)
    assert paras.count() == 6
    out = {r.content_md5: r for r in dedup_paragraphs(paras).collect()}
    import hashlib

    key = hashlib.md5(boiler.encode()).hexdigest()
    assert out[key].keep_doc_id == 3 and out[key].dup_count == 3
    assert len(out) == 4  # 3 unique paragraphs + the shared one
    assert all(r.dup_count == 1 for k, r in out.items() if k != key)

    p = plan_of(dedup_paragraphs(split_paragraphs(corpus)))
    assert "partial_" in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "BroadcastExchange" not in p


def test_token_stats_no_shuffle(spark, docs):
    # pure per-row projection: no KEYED shuffle ever; the only exchange
    # permitted is the scale-adaptive tiny-input fan-out, which vanishes
    # on an already-parallel input (spread_small_input, r10)
    p = plan_of(token_stats(docs))
    assert "Exchange hashpartitioning" not in p
    wide = docs.repartition(spark.sparkContext.defaultParallelism)
    assert plan_of(token_stats(wide)).count("Exchange") == 1


def test_lsh_single_shuffle(docs):
    """Signature computation is scan-side and shuffled ONCE: the window cap
    keeps both self-join inputs identical, so the b-side is a ReusedExchange
    of the a-side (signatures are never recomputed). Real shuffles: the
    (band_id, band_hash) exchange + the final pair distinct."""
    p = plan_of(minhash_lsh_candidates(docs))
    assert "ReusedExchange" in p
    reused = p.count("ReusedExchange")
    assert p.count("Exchange hashpartitioning") - reused <= 2


def test_embedding_near_dup_no_cartesian(emb):
    """The exact near-dup threshold join must be an EQUI-join on block-pair
    keys — never a BroadcastNestedLoopJoin / CartesianProduct over the full
    table (VERDICT r1 #3)."""
    from htmlx.spark.analytics import embedding_near_dup

    p = plan_of(embedding_near_dup(emb, threshold=0.4))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_simhash_is_jvm_side(spark, docs):
    """SimHash must be pure Catalyst expressions: no Python evaluation
    (the round-1 impl was a per-character Python loop). Zero KEYED
    shuffles; the only exchange permitted is the scale-adaptive
    round-robin fan-out for tiny inputs (spread_small_input, r10), which
    vanishes when the input already carries >= parallelism partitions —
    both properties pinned."""
    from htmlx.spark.analytics import simhash_docs

    p = plan_of(simhash_docs(docs))
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "MapInPandas" not in p
    assert "Exchange hashpartitioning" not in p  # no keyed shuffle, ever
    # at-scale shape: an already-parallel input gets NO exchange at all
    wide = docs.repartition(spark.sparkContext.defaultParallelism)
    p_wide = plan_of(simhash_docs(wide))
    assert p_wide.count("Exchange") == 1  # only the caller's own repartition


def test_lang_id_is_jvm_side(spark, docs):
    from htmlx.spark.analytics import lang_id_docs

    p = plan_of(lang_id_docs(docs))
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "Exchange hashpartitioning" not in p  # no keyed shuffle, ever
    wide = docs.repartition(spark.sparkContext.defaultParallelism)
    p_wide = plan_of(lang_id_docs(wide))
    assert p_wide.count("Exchange") == 1  # only the caller's own repartition


def test_relational_broadcast_dims(spark):
    """Dim joins in the TPC-H-shape queries must broadcast (no shuffled
    join for region/nation/customer); only facts shuffle."""
    from htmlx.spark import relational

    p = plan_of(relational.regional_revenue(spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    p2 = plan_of(relational.pricing_summary(spark, SF_DIR))
    assert "partial_" in p2  # map-side combine on the big-fact rollup


def test_components_plan_no_cartesian(spark, docs):
    """The keep-list propagation must stay equi-join shaped: no
    CartesianProduct/BroadcastNestedLoopJoin anywhere in the iterated
    plan, and the edge set must be a persisted (InMemoryRelation) scan so
    rounds don't re-derive the LSH+Jaccard pipeline."""
    from htmlx.spark.analytics import (
        minhash_lsh_candidates,
        near_dup_components,
        ngram_jaccard_pairs,
    )

    cands = minhash_lsh_candidates(docs, max_bucket_size=None)
    verified = ngram_jaccard_pairs(docs, cands).where("jaccard >= 0.9").select(
        "doc_a", "doc_b"
    )
    p = plan_of(near_dup_components(docs, verified))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "InMemoryTableScan" in p or "InMemoryRelation" in p


def test_corpus_filter_plan_all_jvm(spark, docs):
    """The composite corpus filter (dedup + keep-list + lang + quality)
    must be ENTIRELY JVM-side — no Python eval nodes of any kind — and
    equi-join shaped (no cartesian/BNLJ)."""
    from htmlx.spark.entryqueries import q_corpus_filter

    p = plan_of(q_corpus_filter(spark, SF_DIR))
    for marker in (
        "ArrowEvalPython",
        "BatchEvalPython",
        "FlatMapGroupsInPandas",
        "MapInPandas",
        "CartesianProduct",
        "BroadcastNestedLoop",
    ):
        assert marker not in p, marker


def test_decontaminate_broadcasts_eval_grams(spark, docs):
    """The decontamination plan must broadcast the (tiny, eval-bounded)
    eval-gram set for the corpus-side semi-join. The hit set is bounded
    by contamination rate, not eval size, so it is deliberately NOT
    force-broadcast: its join may statically plan as sort-merge on
    doc_id (AQE converts it to broadcast at runtime when small) — but
    that fallback shuffles only (doc_id, n_gram_hits) pairs, never the
    corpus text."""
    from htmlx.spark.analytics import decontaminate

    ev = spark.createDataFrame(
        [(docs.select("text").first().text[:200],)], "text string"
    )
    plan = decontaminate(docs, ev)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # the eval-gram semi-join
    smj = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert all("doc_id" in ln for ln in smj)  # fallback keys only on doc_id
    assert "text" not in "".join(smj)


def test_decontaminate_semantics(spark, docs):
    """A doc sharing a 13-gram with the eval set is flagged with the exact
    distinct-hit count; unrelated docs are not."""
    from pyspark.sql import functions as F

    from htmlx.spark.analytics import decontaminate

    corpus = spark.createDataFrame(
        [
            (0, " ".join(f"w{i}" for i in range(30))),          # 18 hit grams
            (1, " ".join(f"w{i}" for i in range(13)) + " zz"),  # 1 hit gram
            (2, " ".join(f"x{i}" for i in range(30))),          # clean
            (3, "short text"),                                  # < 13 words
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(" ".join(f"w{i}" for i in range(30)),)], "text string"
    )
    for basis in ("xxhash64", "md5"):
        out = {r.doc_id: r for r in decontaminate(corpus, ev, hash_basis=basis).collect()}
        assert out[0].n_gram_hits == 18 and out[0].contaminated
        assert out[1].n_gram_hits == 1 and out[1].contaminated
        assert out[2].n_gram_hits == 0 and not out[2].contaminated
        assert out[3].n_gram_hits == 0 and not out[3].contaminated


def test_quality_top_2gram_repetition_signal(spark):
    """Gopher-style repetition: the most frequent bigram's share of all
    bigrams, exact, computed without any shuffle."""
    from htmlx.spark.analytics import quality_scores

    corpus = spark.createDataFrame(
        [
            (0, "a b a b a b a b"),      # "a b" 4x + "b a" 3x of 7 -> 57%
            (1, "p q r s t u v w"),      # all bigrams unique of 7 -> 14%
            (2, "solo"),                 # no bigrams -> 0
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in quality_scores(corpus).collect()}
    assert out[0].top_2gram_pct == 57
    assert out[1].top_2gram_pct == 14
    assert out[2].top_2gram_pct == 0
    plan = quality_scores(corpus)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_c4_gopher_quality_production_semantics(spark):
    """The PRODUCTION rule suite (analytics.c4_gopher_quality) on a doc
    with REAL newlines — no synthesis involved: line predicates, marker
    scans and the word conventions operate on text as a crawl pipeline
    would see it. Plan stays a zero-shuffle scan-side projection."""
    from htmlx.spark.analytics import c4_gopher_quality

    text = "\n".join(
        [
            "the quick brown fox jumps over it.",  # terminal, >=3 words
            "- a bullet line without punctuation",
            "REALLY? YES IT WORKS!",  # '?'/'!' ARE terminal; CAPS are alpha
            "to be continued...",
            "curly brace here { and javascript too.",
        ]
    )
    corpus = spark.createDataFrame([(0, text)], "doc_id long, text string")
    r = c4_gopher_quality(corpus).collect()[0]
    assert r.n_lines == 5 and r.n_words == 27
    assert r.bullet_line_pct == 20  # 1 of 5
    assert r.ellipsis_line_pct == 20  # '...' line
    assert r.n_sentences == 4  # '.' x2 + '...' + the '!' line
    assert r.c4_keep_line_pct == 80  # those 4 all have >=3 words
    assert r.has_curly_brace and r.has_javascript and not r.has_lorem_ipsum
    assert r.gopher_stop_hits == 4  # the, to, be, and
    assert r.symbol_word_pct == 3  # one '...' among 27 words
    # '-' and '{' are the only non-alpha words; ALL-CAPS count as alpha
    assert r.alpha_word_pct == 25 * 100 // 27
    assert not r.gopher_pass  # 27 words < 50
    assert not r.c4_pass  # markers + <5 sentences

    plan = (
        c4_gopher_quality(corpus)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_dup_ngram_char_fractions_semantics_and_plan(spark):
    """Gopher's duplicate-n-gram character fractions: interval-union
    coverage of >=2x grams, exact against a brute-force reference;
    shuffles key on doc_id only, no cartesian, no corpus broadcast."""
    from collections import Counter

    from htmlx.spark.analytics import dup_ngram_char_fractions

    docs = [
        (0, "a b c d e f g h i j a b c d e f g h i j"),  # full block twice
        (1, " ".join(f"w{i}" for i in range(30))),        # no repeats
        (2, ("x y z q r " * 4).strip()),                  # heavy overlap
    ]
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r.doc_id: r.asDict() for r in dup_ngram_char_fractions(corpus).collect()}

    def brute(text, n):
        t = text.split(" ")
        grams = [tuple(t[i : i + n]) for i in range(len(t) - n + 1)]
        c = Counter(grams)
        cov = set()
        for i, gm in enumerate(grams):
            if c[gm] >= 2:
                cov.update(range(i, i + n))
        tot = sum(len(x) for x in t)
        return sum(len(t[i]) for i in cov) * 100 // max(tot, 1)

    for d, text in docs:
        for n in (5, 6, 7, 8, 9, 10):
            assert rows[d][f"dup_{n}gram_char_pct"] == brute(text, n), (d, n)

    p = plan_of(dup_ngram_char_fractions(corpus))
    assert "Cartesian" not in p and "BroadcastNestedLoopJoin" not in p


def test_gopher_repetition_signals_on_real_lines(spark):
    """The duplicate-line and top-3/4-gram Gopher signals: a doc whose
    boilerplate line repeats 4x fails the dup-line gates; a clean doc
    that otherwise passes is unaffected."""
    from htmlx.spark.analytics import c4_gopher_quality

    boiler = "subscribe to our newsletter today."
    spam = "\n".join([boiler] * 4 + ["the quick brown fox jumps over and over."] * 1
                     + [f"filler w{i:02d} x{i:02d} y{i:02d} z{i:02d} line here ok." for i in range(12)])
    clean = "\n".join(
        f"the number w{i:03d} and item x{i:03d} of list y{i:03d} have value z{i:03d}."
        for i in range(12)
    )
    corpus = spark.createDataFrame([(0, spam), (1, clean)], "doc_id long, text string")
    out = {r.doc_id: r for r in c4_gopher_quality(corpus).collect()}

    d0 = out[0]
    # 17 lines, the boilerplate one 4x -> 3 beyond-first duplicates
    assert d0.n_lines == 17 and d0.dup_line_pct == 3 * 100 // 17
    assert d0.dup_line_char_pct > 0
    # the repeated 5-word line dominates the 3- and 4-gram tops
    assert d0.top_3gram_pct >= 1 and d0.top_4gram_pct >= 1

    d1 = out[1]
    assert d1.dup_line_pct == 0 and d1.dup_line_char_pct == 0
    assert d1.gopher_pass  # 108 words, stopword-rich, repetition-free
    assert d1.c4_pass  # 12 terminal lines, no markers


def test_c4_gopher_on_synthesized_driver_lines(spark):
    """The driver-corpus path: synth_lines_frame builds deterministic
    multi-line text (markers, stopword planting, bullet/ellipsis
    decorations), then the SAME production function computes the rules.
    doc 0 triggers all three C4 markers; a 52-word doc passes the
    Gopher gates; an 88-word even doc passes BOTH gates."""
    from htmlx.spark.analytics import c4_gopher_quality
    from htmlx.spark.entryqueries import synth_lines_frame

    w26 = " ".join(["the", "of"] + [f"w{i:02d}" for i in range(24)])
    w52 = " ".join(["the", "and"] + [f"tok{i:03d}"[:3] + f"{i:x}" for i in range(50)])
    w88 = " ".join(f"w{i:03d}" for i in range(88))
    corpus = spark.createDataFrame(
        [(0, w26), (1, w52), (2, w88)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in c4_gopher_quality(synth_lines_frame(corpus)).collect()}

    d0 = out[0]
    # markers + stopword planting for doc 0, detected by real scans of
    # the synthesized text (production semantics: post-synthesis words)
    assert d0.has_lorem_ipsum and d0.has_curly_brace and d0.has_javascript
    # 26 + 4 marker + 4 stopword tokens -> 5 lines of 8 + one '-' token
    assert d0.n_lines == 5 and d0.n_words == 35
    assert d0.bullet_line_pct == 20 and d0.ellipsis_line_pct == 20
    assert d0.n_sentences == 2 and d0.c4_keep_line_pct == 40
    assert d0.alpha_word_pct == 97  # 1 non-alpha '-' among 35
    # the, of, and, have, with — planted 'that' got the '.' suffix so it
    # does NOT count as a word match (production scan, decorations real)
    assert d0.gopher_stop_hits == 5
    assert not d0.c4_pass and not d0.gopher_pass

    d1 = out[1]
    assert not (d1.has_lorem_ipsum or d1.has_curly_brace or d1.has_javascript)
    assert d1.n_words == 53 and d1.alpha_word_pct == 98  # one '-' bullet token
    assert d1.gopher_stop_hits == 2  # odd doc_id: nothing planted
    assert d1.gopher_pass
    assert not d1.c4_pass  # 3 terminal-punct lines < 5

    d2 = out[2]
    # 88 + 4 planted -> 92 tokens -> 12 lines; terminal lines at
    # j in {1,4,7,10} (mod 3) + j=5 (mod 7) = 5 sentences exactly
    assert d2.n_lines == 12 and d2.n_words == 94 and d2.n_sentences == 5
    assert d2.gopher_stop_hits == 4  # planted, last line undecorated
    assert d2.gopher_pass and d2.c4_pass


def test_pii_scrub_semantics_and_plan(spark):
    """Redaction order (emails, then IPs, then digit runs), counts, and a
    zero-shuffle scan-side plan."""
    from htmlx.spark.analytics import pii_scrub

    corpus = spark.createDataFrame(
        [
            (0, "write bob.smith+x@ex.co or x@y.io from 10.2.3.44 call 0012345678"),
            (1, "no pii here"),
            (2, "edge 999.999.999.999 and 123456 short"),  # IP-shaped + 6 digits
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in pii_scrub(corpus).collect()}
    assert out[0].n_emails == 2 and out[0].n_ips == 1
    assert out[0].clean_text == "write <EMAIL> or <EMAIL> from <IP> call <NUM>"
    assert out[1].clean_text == "no pii here" and out[1].n_emails == 0
    # the naive-octet pattern redacts IP-shaped strings; 6 digits survive
    assert out[2].clean_text == "edge <IP> and 123456 short"
    plan = pii_scrub(corpus)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pack_sequences_semantics(spark):
    """Greedy no-split first-fit in doc_id order within a bucket: exact
    bin/offset assignments, oversized docs get their own bin."""
    from htmlx.spark.analytics import pack_sequences

    corpus = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in
         enumerate([300, 200, 100, 600, 10, 500, 5])],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           pack_sequences(corpus, seq_len=512, num_buckets=1).collect()}
    # 300 -> bin0@0; 200 -> bin0@300 (500<=512); 100 -> bin1@0; 600 ->
    # bin2@0 (oversized, own bin since 100+600>512); 10 -> bin3@0;
    # 500 -> bin3... 10+500=510 <= 512 -> bin3@10; 5 -> bin4@0
    exp = {0: (0, 0), 1: (0, 300), 2: (1, 0), 3: (2, 0), 4: (3, 0),
           5: (3, 10), 6: (4, 0)}
    for d, (b, o) in exp.items():
        assert (out[d].pack_bin, out[d].pack_offset) == (b, o), (d, out[d])
    # bucket independence: same docs, 2 buckets -> each bucket packs alone
    out2 = pack_sequences(corpus, seq_len=512, num_buckets=2).collect()
    assert {r.pack_bucket for r in out2} == {0, 1}
    for r in out2:
        assert r.pack_bucket == r.doc_id % 2
