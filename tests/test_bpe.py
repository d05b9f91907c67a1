"""Corpus-trained BPE: deterministic trainer, replace-chain == pandas ==
pure-Python encode parity, merge-semantics pins (incl. the a==b overlap
case the doubled-separator trick must get right), model persistence,
and a zero-Python plan assertion for the scan-side encode path.

The trainer is the Sennrich 2016 recipe; nothing here derives from the
reference repo (it has no tokenizer — token accounting there is
whitespace word counts, internal/extractor.go countWords)."""

import pytest

from htmlx.spark import analytics as A
from htmlx.spark.session import get_spark
from tests.oracles import bpe_apply_merges

SF_DIR = "/root/testdata/sf0.001"
# byte-level decode table: the inverse of the trainer's byte -> symbol map
_U2B = {c: b for b, c in A._B2U.items()}


@pytest.fixture(scope="module")
def spark():
    s = get_spark(cores=4, app_name="htmlx-bpe-test")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


# ---- pure-Python semantics ----


def test_merge_step_greedy_nonoverlapping():
    assert A.bpe_merge_step(list("abab"), "a", "b") == ["ab", "ab"]
    assert A.bpe_merge_step(list("aaa"), "a", "a") == ["aa", "a"]
    assert A.bpe_merge_step(list("aaaa"), "a", "a") == ["aa", "aa"]
    assert A.bpe_merge_step(list("xab"), "a", "b") == ["x", "ab"]
    assert A.bpe_merge_step(["ab", "a", "b"], "a", "b") == ["ab", "ab"]


def test_trainer_toy_corpus():
    # Sennrich's classic example family: 'es' then 'est' dominate.
    wf = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    merges = A.train_bpe_merges(wf, 4)
    assert merges[:2] == [("e", "s"), ("es", "t")]
    # determinism: same input -> same merges
    assert merges == A.train_bpe_merges(wf, 4)


def test_trainer_tie_break_lexicographic():
    # both pairs occur exactly once -> smallest (a, b) wins
    wf = [("ba", 1), ("cd", 1)]
    assert A.train_bpe_merges(wf, 1) == [("b", "a")]


def test_trainer_stops_when_no_pairs():
    wf = [("a", 3), ("b", 2)]
    assert A.train_bpe_merges(wf, 10) == []


def _train_bpe_merges_rescan(word_freqs, num_merges):
    """The pre-r10 full-rescan trainer, kept verbatim as the equivalence
    reference for the incremental formulation (VERDICT r9 item 1: the
    merges list must match BIT-FOR-BIT, concat-'a\\x1fb' tie-break
    included)."""
    from collections import Counter

    corpus = [(list(w), int(f)) for w, f in word_freqs]
    merges = []
    for _ in range(num_merges):
        pc = Counter()
        for syms, f in corpus:
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        best = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0] + A.BPE_PAIRSEP + kv[0][1])
        )[0]
        merges.append(best)
        corpus = [(A.bpe_merge_step(s, *best), f) for s, f in corpus]
    return merges


def test_trainer_incremental_matches_rescan():
    """The incremental trainer must reproduce the full-rescan merges list
    exactly on corpora exercising the hazardous cases: ties decided by
    the concat key (incl. symbols containing \\t/\\n below \\x1f, where
    tuple order and concat order DISAGREE), duplicate composites
    (a+b == an existing symbol, so an old pair's count can RISE after a
    merge), and overlap runs (aaa...)."""
    import random

    cases = [
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)],
        [("ba", 1), ("cd", 1)],
        [("aaaa", 3), ("aaa", 2), ("aa", 7)],
        # \t/\n are legal symbols; 'x\ty' ties vs 'x\n...' shapes
        [("x\ty", 2), ("x\nz", 2), ("\t\n", 2)],
        # duplicate composite: merging (a,b) then (ab,ab) etc.
        [("abab", 4), ("ab", 4), ("aabb", 4)],
        [("a", 3)],
        [],
    ]
    rng = random.Random(42)
    alpha = list("ab\t\n") + ["cd"]
    for _ in range(6):
        n = rng.randint(1, 30)
        case = [
            (
                "".join(rng.choice(alpha) for _ in range(rng.randint(1, 8))),
                rng.randint(1, 9),
            )
            for _ in range(n)
        ]
        cases.append(case)
    for wf in cases:
        for k in (1, 3, 10, 40):
            assert A.train_bpe_merges(list(wf), k) == _train_bpe_merges_rescan(
                list(wf), k
            ), (wf, k)


def test_trainer_cost_shape():
    """The incremental trainer must not rescan the vocabulary per merge:
    5k merges over a 100k-word table in seconds, not minutes (the
    trainer twin of test_encode_word_cost_shape)."""
    import time

    # 100k distinct words, zipf-ish freqs, 12-char words over a small
    # alphabet so pairs keep merging deep
    words = {}
    x = 123456789
    for i in range(100_000):
        x = (1103515245 * x + 12345) % (1 << 31)
        w = "".join("abcdef"[(x >> (3 * j)) % 6] for j in range(12)) + str(i % 97)
        words[w] = words.get(w, 0) + 1 + (i % 13)
    wf = sorted(words.items())
    t0 = time.perf_counter()
    merges = A.train_bpe_merges(wf, 5_000)
    dt = time.perf_counter() - t0
    assert len(merges) == 5_000
    # full-rescan cost here is tens of minutes (5k merges x ~1.3M
    # symbols); the incremental trainer touches only affected words per
    # merge. Bound is generous because the full suite runs 32-wide under
    # host-noise windows (measured 41 s contended / ~12 s quiet) — the
    # pin is the COST SHAPE (seconds-vs-minutes), not a microbenchmark.
    assert dt < 120, dt


def test_apply_merges_roundtrip_concat():
    wf = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3), ("lowest", 4)]
    merges = A.train_bpe_merges(wf, 8)
    for w in ("lowest", "newest", "wider", "unseen", "x"):
        syms = bpe_apply_merges(w, merges)
        assert "".join(syms) == w


def test_pretokens_py_space_marker():
    toks = A._bpe_pretokens_py("the cat, 42 sat")
    assert toks == ["the", "Ġcat", ",", "Ġ42", "Ġsat"]
    # control separators stripped before pretokenization
    assert A._bpe_pretokens_py("a\x1d\x1e\x1fb") == ["ab"]


# ---- Spark parity ----


def _ref_counts(rows, merges):
    out = {}
    for r in rows:
        n = 0
        for w in A._bpe_pretokens_py(r["text"] or ""):
            n += len(bpe_apply_merges(w, merges))
        out[r["doc_id"]] = n
    return out


def test_encode_replace_chain_matches_python(spark, docs):
    merges = A.train_bpe_full(docs, num_merges=16)[0]
    assert len(merges) == 16
    got = {
        r["doc_id"]: r["n_bpe_real"]
        for r in A.bpe_encode_counts(docs, merges).collect()
    }
    want = _ref_counts(docs.select("doc_id", "text").collect(), merges)
    assert got == want
    # merges genuinely compress: strictly fewer symbols than characters
    chars = {r["doc_id"]: len(r["text"]) for r in docs.select("doc_id", "text").collect()}
    assert sum(got.values()) < sum(v for v in chars.values())


def test_encode_pandas_matches_replace_chain(spark, docs):
    merges = A.train_bpe_full(docs, num_merges=12)[0]
    a = {
        r["doc_id"]: r["n_bpe_real"]
        for r in A.bpe_encode_counts(docs, merges, method="replace").collect()
    }
    b = {
        r["doc_id"]: r["n_bpe_real"]
        for r in A.bpe_encode_counts(docs, merges, method="pandas").collect()
    }
    assert a == b


def test_encode_replace_chain_is_jvm_only(spark, docs):
    merges = A.train_bpe_full(docs, num_merges=8)[0]
    plan = A.bpe_encode_counts(docs, merges)._jdf.queryExecution().executedPlan().toString()
    assert "mapInPandas" not in plan and "EvalPython" not in plan
    # scan-side projection: no KEYED shuffle ever; the only exchange
    # permitted is the scale-adaptive tiny-input fan-out, which vanishes
    # on an already-parallel input (spread_small_input, r10)
    assert "Exchange hashpartitioning" not in plan
    wide = docs.repartition(spark.sparkContext.defaultParallelism)
    plan_wide = A.bpe_encode_counts(wide, merges)._jdf.queryExecution().executedPlan().toString()
    assert plan_wide.count("Exchange") == 1  # only the caller's own repartition


def test_spark_replace_semantics_match_greedy(spark):
    # the whole oracle story rests on replace() being left-to-right
    # non-overlapping with the doubled separator donating boundaries
    from pyspark.sql import functions as F

    ss = A.BPE_SYMSEP * 2
    cases = [("abab", "a", "b"), ("aaa", "a", "a"), ("aaaa", "a", "a"), ("ababab", "a", "b")]
    one = spark.range(1)
    for w, a, b in cases:
        enc = ss + ss.join(list(w)) + ss
        got = (
            one.select(
                F.replace(
                    F.lit(enc),
                    F.lit(A.BPE_SYMSEP + a + ss + b + A.BPE_SYMSEP),
                    F.lit(A.BPE_SYMSEP + a + b + A.BPE_SYMSEP),
                ).alias("r")
            )
            .collect()[0]["r"]
        )
        want = ss + ss.join(A.bpe_merge_step(list(w), a, b)) + ss
        assert got == want, (w, a, b)


def test_merges_df_roundtrip(spark, docs, tmp_path):
    merges = A.train_bpe_full(docs, num_merges=6)[0]
    path = str(tmp_path / "merges.parquet")
    A.bpe_merges_df(spark, merges).write.parquet(path)
    assert A.load_bpe_merges(spark, path) == merges


def test_pack_sequences_with_real_counts(spark, docs):
    from pyspark.sql import functions as F

    merges = A.train_bpe_full(docs, num_merges=8)[0]
    real = A.bpe_encode_counts(docs, merges).withColumnRenamed("n_bpe_real", "n_tokens")
    packed = A.pack_sequences(docs, seq_len=64, num_buckets=4, counts=real).collect()
    counts = {r["doc_id"]: r["n_tokens"] for r in real.collect()}
    # replay next-fit per bucket
    by_bucket = {}
    for r in sorted(packed, key=lambda r: r["doc_id"]):
        by_bucket.setdefault(r["pack_bucket"], []).append(r)
    for bucket, rows in by_bucket.items():
        bin_id, fill, first = 0, 0, True
        for r in rows:
            n = counts[r["doc_id"]]
            if not first and fill + n > 64:
                bin_id += 1
                fill = 0
            first = False
            assert (r["pack_bin"], r["pack_offset"]) == (bin_id, fill), r
            fill += n


# ---- production encoder + token ids ----


def test_rank_dict_encoder_equals_rank_order_application():
    """bpe_encode_word (iterate-lowest-rank, the GPT-2 loop) must equal
    bpe_apply_merges (apply in rank order) — the training-order property
    guarantees it; pin it over a trained table AND unseen words."""
    wf = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3),
          ("lowest", 4), ("newer", 3), ("wider", 2)]
    merges = A.train_bpe_merges(wf, 20)
    ranks = A.bpe_ranks(merges)
    for w in ("lowest", "newest", "wider", "lowness", "wes", "x", "", "ee"):
        assert A.bpe_encode_word(w, ranks, merges) == bpe_apply_merges(w, merges), w


def test_encode_word_cost_shape():
    """The rank-dict loop must not iterate the merges table: a huge
    table of irrelevant merges costs nothing."""
    import time

    merges = [(f"q{i}", f"z{i}") for i in range(50_000)] + [("a", "b")]
    ranks = A.bpe_ranks(merges)
    t0 = time.perf_counter()
    out = A.bpe_encode_word("abab", ranks, merges)
    dt = time.perf_counter() - t0
    assert out == ["ab", "ab"]
    assert dt < 0.05  # O(len * applied), not O(M * len)


def test_encode_ids_roundtrip_and_counts(spark, docs):
    merges, alphabet = A.train_bpe_full(docs, num_merges=12)
    vocab = A.bpe_vocab(merges, alphabet)
    rev = {i: s for s, i in vocab.items()}
    ids_df = A.bpe_encode_ids(docs, merges, alphabet)
    counts = {
        r["doc_id"]: r["n_bpe_real"]
        for r in A.bpe_encode_counts(docs, merges).collect()
    }
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    rows = ids_df.collect()
    assert len(rows) == len(texts)
    for r in rows:
        assert r["n_tokens"] == counts[r["doc_id"]] == len(r["token_ids"])
        # ids decode back to the pretokenized text exactly
        decoded = "".join(rev[i] for i in r["token_ids"])
        want = "".join(A._bpe_pretokens_py(texts[r["doc_id"]]))
        assert decoded == want
    # vocab layout: alphabet then merges
    assert len(vocab) == len(alphabet) + len(merges)
    assert all(vocab[a + b] >= len(alphabet) for a, b in merges)


def test_encode_ids_unknown_chars_take_unk(spark):
    docs = spark.createDataFrame(
        [(1, "low low low"), (2, "low Ω low")], "doc_id long, text string"
    )
    train = docs.where("doc_id = 1")
    merges, alphabet = A.train_bpe_full(train, num_merges=4)
    assert "Ω" not in alphabet
    unk = A.bpe_unk_id(merges, alphabet)
    out = {r["doc_id"]: r["token_ids"]
           for r in A.bpe_encode_ids(docs, merges, alphabet).collect()}
    assert unk in out[2] and unk not in out[1]


# ---- byte-level BPE (GPT-2 byte table) ----


def test_byte_table_is_the_published_bijection():
    b2u = A._bytes_to_unicode()
    assert len(b2u) == 256 and len(set(b2u.values())) == 256
    # printable latin-1 maps to itself; space lands on Ġ (the marker
    # the codepoint path borrowed); newline on Ċ
    assert b2u[ord("a")] == "a" and b2u[0xFF] == "ÿ"
    assert b2u[0x20] == "Ġ" and b2u[0x0A] == "Ċ"
    assert A.bpe_byte_alphabet()[32] == "Ġ"


def test_byte_level_pretokens_roundtrip_unicode():
    text = "héllo 世界 🎉 ok"
    toks = A._bpe_pretokens_py(text, byte_level=True)
    decoded = bytes(_U2B[c] for t in toks for c in t).decode("utf-8")
    assert decoded == text.replace("🎉", "🎉")  # exact bytes back
    assert "".join(toks) != ""  # non-empty mapping


def test_byte_level_train_and_ids_no_unk(spark):
    docs = spark.createDataFrame(
        [(1, "low low lower 世界 world"), (2, "héllo 世界 low 🎉 low")],
        "doc_id long, text string",
    )
    merges, alphabet = A.train_bpe_full(docs, num_merges=10, byte_level=True)
    assert alphabet == A.bpe_byte_alphabet()
    vocab = A.bpe_vocab(merges, alphabet)
    unk = A.bpe_unk_id(merges, alphabet)
    rev = {i: s for s, i in vocab.items()}
    out = {r["doc_id"]: r for r in
           A.bpe_encode_ids(docs, merges, alphabet).collect()}
    texts = {1: "low low lower 世界 world", 2: "héllo 世界 low 🎉 low"}
    for d, r in out.items():
        assert unk not in r["token_ids"]  # byte-level NEVER UNKs
        # decode: ids -> symbols -> bytes -> original text
        syms = "".join(rev[i] for i in r["token_ids"])
        decoded = bytes(_U2B[c] for c in syms).decode("utf-8")
        assert decoded == "".join(
            t for t in __import__("re").findall(A.BPE_PRETOKEN_PATTERN, texts[d])
        )
    # counts agree between the pandas counter and the id path
    counts = {r["doc_id"]: r["n_bpe_real"] for r in A.bpe_encode_counts(
        docs, merges, method="pandas", byte_level=True).collect()}
    assert all(counts[d] == out[d]["n_tokens"] for d in counts)


def test_byte_level_replace_chain_raises_named():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="byte_level"):
        A.bpe_encode_counts(None, [("a", "b")], method="replace", byte_level=True)


def test_duplicate_composite_merges_never_alias_unk():
    """Two merges can build the same composite string (both splits of a
    trigram); the vocab keeps the lowest-rank id and UNK is the fixed
    len(alphabet)+len(merges) — len(dict) would alias a real token."""
    merges = [("a", "b"), ("b", "c"), ("ab", "c"), ("a", "bc")]
    alphabet = ["a", "b", "c", "z"]
    vocab = A.bpe_vocab(merges, alphabet)
    unk = A.bpe_unk_id(merges, alphabet)
    assert vocab["abc"] == 4 + 2  # first (lowest-rank) composite id wins
    assert unk == 8 and unk not in vocab.values()


def test_replace_chain_handles_line_terminators(spark):
    """r9 review: plain '.' in the char-split regex skips \\n/\\r, which
    desyncs the separator arithmetic and makes merges touching newline
    symbols silently never apply. Pin replace == pandas == pure-Python
    on multi-line text."""
    docs = spark.createDataFrame(
        [(1, "hello world.\nhello world.\n\nbye"),
         (2, "a\r\nb\r\nc"),
         (3, "line one\nline two\nline one\n")],
        "doc_id long, text string",
    )
    merges = A.train_bpe_full(docs, num_merges=8)[0]
    a = {r["doc_id"]: r["n_bpe_real"]
         for r in A.bpe_encode_counts(docs, merges, method="replace").collect()}
    b = {r["doc_id"]: r["n_bpe_real"]
         for r in A.bpe_encode_counts(docs, merges, method="pandas").collect()}
    want = _ref_counts(docs.select("doc_id", "text").collect(), merges)
    assert a == b == want


def test_pack_sequences_eod_reservation(spark):
    """eod_tokens reserves separator capacity per doc: 4 docs of 10
    tokens with eod 2 pack as 12-cost items into 32-token bins (2 per
    bin), not 3 per bin."""
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * 10)) for i in range(4)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in A.pack_sequences(
        docs, seq_len=32, num_buckets=1, eod_tokens=2).collect()}
    assert [rows[i]["pack_bin"] for i in range(4)] == [0, 0, 1, 1]
    assert [rows[i]["pack_offset"] for i in range(4)] == [0, 12, 0, 12]
    # default stays the old behavior: 3 fit (30 <= 32)
    rows0 = {r["doc_id"]: r for r in A.pack_sequences(
        docs, seq_len=32, num_buckets=1).collect()}
    assert [rows0[i]["pack_bin"] for i in range(4)] == [0, 0, 0, 1]
