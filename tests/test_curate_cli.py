"""jobs/curate.py driven through main() the way spark-submit runs it.

Every mode of the MODES table runs once on tiny shared inputs and its
output is compared with the operator called directly, the CLI defaults
spelled out; a mode that needs a second input is a usage error without
it. filter / imagededup / audiodedup also pin the semantics around the
operators the query rows check (analytics.corpus_filter,
multimodal.perceptual_keepers): one output row per input, keepers at the
component minimum, undecodable media passed through with their error."""

import numpy as np
import pytest

from pyspark.sql import functions as F

import jobs.curate as curate
from htmlx.spark import analytics, multimodal
from htmlx.spark.multimodal import encode_wav
from htmlx.spark.robotstxt import robots_filter
from htmlx.spark.schemas import LINK_TYPE
from htmlx.spark.session import get_spark
from htmlx.spark.tiffbmp import encode_bmp
from tests.test_components import SF_DIR


@pytest.fixture(scope="module")
def spark():
    s = get_spark(cores=4, app_name="htmlx-curate-cli-test")
    yield s
    s.stop()


def _curate(spark, tmp_path, mode, inp):
    out = str(tmp_path / f"{mode}_out")
    curate.main(["--mode", mode, "--input", inp, "--output", out])
    return spark.read.parquet(out)


def test_filter_mode_is_corpus_filter_and_keeps_null_text_docs(spark, tmp_path):
    """One keep/drop row per input doc — NULL-text docs included — and the
    rows of the real documents equal the single-policy reference filter
    under the shipped defaults (xxhash64 basis, 1024 bucket cap)."""
    from tests.oracles import corpus_filter_frame

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    top = docs.agg({"doc_id": "max"}).collect()[0][0]
    nulls = spark.createDataFrame(
        [(top + 1, None), (top + 2, None)], docs.schema
    )
    inp = str(tmp_path / "docs.parquet")
    docs.unionByName(nulls).write.parquet(inp)

    out = _curate(spark, tmp_path, "filter", inp)
    assert out.columns == ["doc_id", "reason", "keep"]
    got = {r.doc_id: (r.reason, r.keep) for r in out.collect()}
    n_docs = docs.count()
    assert out.count() == len(got) == n_docs + 2
    want = {
        r.doc_id: (r.reason, r.keep)
        for r in corpus_filter_frame(docs, "xxhash64", 1024).collect()
    }
    assert len(want) == n_docs
    assert {d: got[d] for d in want} == want
    # NULL text is treated as '': the first is too short to keep, the
    # second is an exact duplicate of it
    assert got[top + 1] == ("low_quality", False)
    assert got[top + 2] == ("exact_dup", False)


def _media(spark, tmp_path, rows):
    inp = str(tmp_path / "media.parquet")
    spark.createDataFrame(
        [(i, bytearray(p)) for i, p in rows], "media_id long, payload binary"
    ).write.parquet(inp)
    return inp


def test_imagededup_mode_keeps_component_minimum(spark, tmp_path, monkeypatch):
    w, h = 36, 16
    base = np.tile((2 * np.arange(w)).astype(np.uint8), (h, 1))
    pert = base.copy()
    pert[: h // 8, 8 * w // 9:] = 0  # exactly one dHash bit flips
    far = base[:, ::-1].copy()

    def bmp(a):
        return encode_bmp(np.stack([a] * 3, axis=2))

    # 5 and 7 share a hash (bucket keeper 5), 3 is one bit from it: the
    # merged component keeps 3, the minimum over both buckets
    inp = _media(spark, tmp_path, [
        (5, bmp(base)), (7, bmp(base)), (3, bmp(pert)), (9, bmp(far)),
        (4, b"\x00\x01garbage"),
    ])
    # an identity stage in front of the decode counts payload reads: the
    # decoded frame feeds the representative groupBy, the keeper join and
    # the error passthrough, and each payload must still decode once
    reads = spark.sparkContext.accumulator(0)

    def identity(batches):
        for b in batches:
            reads.add(len(b))
            yield b

    decode = multimodal.extract_image_dhash
    monkeypatch.setattr(
        multimodal, "extract_image_dhash",
        lambda media: decode(media.mapInPandas(identity, media.schema)),
    )
    out = _curate(spark, tmp_path, "imagededup", inp)
    assert reads.value == 5
    assert out.columns == ["media_id", "dhash", "keep_media_id", "is_dup", "error"]
    got = {r.media_id: r for r in out.collect()}
    assert sorted(got) == [3, 4, 5, 7, 9]
    assert {m: (got[m].keep_media_id, got[m].is_dup) for m in (3, 5, 7, 9)} == {
        3: (3, False), 5: (3, True), 7: (3, True), 9: (9, False),
    }
    assert got[5].dhash == got[7].dhash == -1
    assert all(got[m].error == "" for m in (3, 5, 7, 9))
    bad = got[4]
    assert bad.error != "" and (bad.keep_media_id, bad.is_dup) == (4, False)


def test_audiodedup_mode_keeps_component_minimum(spark, tmp_path):
    up = (2 * np.arange(100)).astype(np.int64)
    dip = up.copy()
    dip[71 * 100 // 72:] = 0  # exactly the last eHash comparison flips
    # 6 and 2 share a hash (scaled + resampled dup, bucket keeper 2), 4 is
    # one bit from it, 8 is far; 1 is an MP3 the decoders cannot open
    inp = _media(spark, tmp_path, [
        (6, encode_wav(up)), (2, encode_wav(up * 3, rate=44100)),
        (4, encode_wav(dip)), (8, encode_wav(up[::-1].copy())),
        (1, b"ID3" + b"\x00" * 64),
    ])
    out = _curate(spark, tmp_path, "audiodedup", inp)
    assert out.columns == ["media_id", "ehash", "keep_media_id", "is_dup", "error"]
    got = {r.media_id: r for r in out.collect()}
    assert sorted(got) == [1, 2, 4, 6, 8]
    assert {m: (got[m].keep_media_id, got[m].is_dup) for m in (2, 4, 6, 8)} == {
        2: (2, False), 4: (2, True), 6: (2, True), 8: (8, False),
    }
    assert (got[2].ehash, got[4].ehash, got[8].ehash) == (-1, -2, 0)
    bad = got[1]
    assert bad.error == "decoder_unavailable"
    assert (bad.keep_media_id, bad.is_dup) == (1, False)



# ---- every mode of the table through main() --------------------------------

NAV = "Home | About us | Contact | Privacy policy"
SPAN = " ".join(f"span{i}" for i in range(20))
WORDS = ("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda "
         "mu nu xi omicron pi rho sigma tau upsilon")
FR = "Le chat est assis sur le tapis et regarde la fenêtre ouverte"
NOINDEX = b'<html><head><meta name="robots" content="noindex"></head></html>'


def _gradient_bmp(flip=False):
    a = np.tile((2 * np.arange(36)).astype(np.uint8), (16, 1))
    if flip:
        a = a[:, ::-1].copy()
    return encode_bmp(np.stack([a] * 3, axis=2))


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    """One parquet (or text file) per input shape the modes read, by name."""
    root = tmp_path_factory.mktemp("curate_inputs")
    paths = {}

    def put(name, rows, schema):
        paths[name] = str(root / f"{name}.parquet")
        spark.createDataFrame(rows, schema).write.parquet(paths[name])

    texts = {
        # host a.example: 3 docs share the NAV template line; 2 is an
        # exact dup of 1; 3 and 4 share a 20-token span
        1: f"{NAV}\n{WORDS}\n\nmail me at someone@example.com from 10.0.0.1",
        2: f"{NAV}\n{WORDS}\n\nmail me at someone@example.com from 10.0.0.1",
        3: f"{NAV}\nopening words of the third page {SPAN}",
        4: f"{SPAN} closing words of the fourth page on another host",
        5: f"An English line that is long enough to score.\n{FR}",
        6: "first paragraph of six\n\nthe shared paragraph text",
        # the one document that passes the pipeline's default Gopher gate
        7: ("The river runs through the old town and past the market where "
            "farmers sell bread, cheese and fresh fruit to the people who "
            "live nearby. In the evening the streets are quiet, and the "
            "lights of the houses shine on the water while children walk "
            "home with their parents after a long day at school in the "
            "valley."),
    }
    hosts = {1: "a", 2: "a", 3: "a", 4: "b", 5: "b", 6: "c", 7: "c"}
    put("docs", [
        (d, t, f"https://{hosts[d]}.example/{d}", "web" if d % 2 else "news",
         1000 + d, bytearray(NOINDEX if d == 1 else b"<html></html>"))
        for d, t in texts.items()
    ], "doc_id long, text string, url string, source string, warc_ts long, "
       "html binary")
    put("old", [(1, texts[1], "https://a.example/1", 900),
                (2, "an older text", "https://a.example/2", 900),
                (9, "a page gone since", "https://a.example/9", 900)],
        "doc_id long, text string, url string, warc_ts long")
    put("eval", [(" ".join(WORDS.split()[:13]),)], "text string")
    put("robots", [("a.example", "User-agent: *\nDisallow: /2\n")],
        "host string, robots_txt string")
    put("pairs", [(3, 4)], "doc_a long, doc_b long")
    put("emb", [(1, [1.0, 0.0, 0.0]), (2, [0.9999, 0.01, 0.0]),
                (3, [0.0, 1.0, 0.0])], "vec_id long, embedding array<double>")
    put("edges", [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")],
        "src_host string, dst_host string")
    put("links", [("https://a.example/1", "https://b.example/x", "b site"),
                  ("https://c.example/1", "https://b.example/y", ""),
                  ("https://b.example/1", "https://b.example/2", "self")],
        "src_url string, dst_url string, anchor_text string")
    put("results", [("https://a.example/1", [
        ("https://b.example/x", "b", None, True, False, 0),
        ("/local", "l", None, False, False, 1),
        ("https://c.example/", "c", None, True, True, 2),
    ])], f"url string, links array<{LINK_TYPE.simpleString()}>")
    up = (2 * np.arange(100)).astype(np.int64)
    put("media", [
        (10, bytearray(_gradient_bmp())), (11, bytearray(_gradient_bmp())),
        (12, bytearray(_gradient_bmp(flip=True))),
        (13, bytearray(encode_wav(up))),
        (14, bytearray(encode_wav(up * 3, rate=44100))),
        (15, bytearray(b"\x00\x01garbage")),
    ], "media_id long, payload binary")
    put("images", [(1, 10, "a.png", "a nice photo of the sea", None),
                   (1, 11, "b.png", "", "a calm photo of the lake"),
                   (2, 12, "c.png", "tiny", None),
                   (2, 15, "d.png", "a broken photo of a boat", None)],
        "page_id long, media_id long, src string, alt string, title string")
    paths["blocklist"] = str(root / "blocklist.txt")
    (root / "blocklist.txt").write_text("# hosts\n\nb.example\n")
    paths["bpe"] = str(root / "bpe")
    analytics.save_bpe_model(
        spark, paths["bpe"], [("a", "l"), ("al", "p"), ("h", "a")],
        sorted(set("".join(texts.values()))),
    )
    return paths


def _keepers(decode, hcol):
    def want(s, media, p):
        ok = decode(media).where("error = ''")
        return multimodal.perceptual_keepers(ok.select("media_id", hcol), hcol, 3)

    return want


def _kept_hashes(hcol):
    return lambda got: (
        got.where("error = ''").select(hcol, "keep_media_id").distinct()
    )


#: mode -> (input, extra argv with {input} placeholders, the operator
#: called directly on the input under the CLI's defaults, and optionally
#: the view of the written output it is compared with)
CASES = {
    "filter": ("docs", [], lambda s, d, p: analytics.corpus_filter(
        d, {"production": ("xxhash64", 1024)}, 0.9).drop("variant")),
    "dedup": ("docs", ["--pairs", "{pairs}"], lambda s, d, p:
              analytics.near_dup_components(d, s.read.parquet(p["pairs"]))),
    "split": ("docs", [], lambda s, d, p: analytics.hash_split(d)),
    "decontaminate": ("docs", ["--eval-input", "{eval}"], lambda s, d, p:
                      analytics.decontaminate(d, s.read.parquet(p["eval"]), n=13,
                                              hash_basis="xxhash64")),
    "pii": ("docs", [], lambda s, d, p: analytics.pii_scrub(d)),
    "pack": ("docs", [], lambda s, d, p: analytics.pack_sequences(
        d, seq_len=2048, num_buckets=256, counts=None, eod_tokens=0)),
    "bpetrain": ("docs", ["--bpe-train", "8"], lambda s, d, p: analytics.bpe_merges_df(
        s, analytics.train_bpe_full(d, num_merges=8, byte_level=False)[0])),
    "bpeencode": ("docs", ["--bpe-model", "{bpe}"], lambda s, d, p:
                  analytics.bpe_encode_ids(d, *analytics.load_bpe_model(s, p["bpe"]))),
    "imgtext": ("images", ["--media-input", "{media}"], lambda s, d, p:
                multimodal.image_text_pairs(
                    d, s.read.parquet(p["media"]), min_caption_bytes=5,
                    max_caption_bytes=512, max_hamming=3, allow_langs=("en",))),
    "quality": ("docs", [], lambda s, d, p: analytics.c4_gopher_quality(d)),
    "spandedup": ("docs", [], lambda s, d, p: analytics.dedup_spans(
        d, w=15, hash_basis="xxhash64", max_occurrences=None)),
    "paradedup": ("docs", [], lambda s, d, p: analytics.dedup_paragraphs(
        analytics.split_paragraphs(d, extra_cols=()), keep_by=None,
        descending=False, normalize=False)),
    "exactdedup": ("docs", [], lambda s, d, p: analytics.dedup_exact(
        d, keep_by=None, descending=False, normalize=False)),
    "imagededup": ("media", [], _keepers(multimodal.extract_image_dhash, "dhash"),
                   _kept_hashes("dhash")),
    # the written keep-list's duplicates are exactly the verified pairs
    # (one pair, keeper at its minimum)
    "embdedup": ("emb", [], lambda s, d, p: analytics.embedding_near_dup(
        d, threshold=0.9).select("vec_a", "vec_b"),
        lambda got: got.where("is_dup").select(
            F.col("keep_vec_id").alias("vec_a"), F.col("vec_id").alias("vec_b"))),
    "audiodedup": ("media", [], _keepers(multimodal.extract_audio_ehash, "ehash"),
                   _kept_hashes("ehash")),
    "tempsample": ("docs", [], lambda s, d, p: analytics.temperature_sample(
        d, group_col="source", alpha=0.7, target_frac=None)),
    "hostrank": ("edges", [], lambda s, d, p: analytics.host_rank(
        d, damping=0.85, iters=3, weight_col=None)),
    "anchorstats": ("links", [], lambda s, d, p: analytics.anchor_text_agg(
        d, cross_host_only=True)),
    "hosttmpl": ("docs", [], lambda s, d, p: analytics.host_template_lines(
        d, min_docs=3, min_frac=0.5)),
    "snapdiff": ("docs", ["--old-input", "{old}"], lambda s, d, p:
                 analytics.snapshot_diff(s.read.parquet(p["old"]), d)),
    "linkgraph": ("results", [], lambda s, d, p: analytics.link_graph(
        d, cross_host_only=True)),
    "langmix": ("docs", [], lambda s, d, p: analytics.lang_mix_docs(
        d, min_line_chars=20)),
    "perplexity": ("docs", [], lambda s, d, p: analytics.char_trigram_perplexity(
        d, model=None)),
    "robotsfilter": ("docs", ["--robots", "{robots}"], lambda s, d, p: robots_filter(
        d, s.read.parquet(p["robots"]), user_agent="*")),
    "metarobots": ("docs", [], lambda s, d, p: analytics.meta_robots(d)),
    "urlfilter": ("docs", ["--blocklist", "{blocklist}"], lambda s, d, p:
                  analytics.url_filter(
                      d, s.createDataFrame([("b.example",)], "host string"))),
    # every url is clean, so the quality stage (default gate gopher) sees
    # the whole input
    "pipeline": ("docs", [], lambda s, d, p: analytics.c4_gopher_quality(d)
                 .where("gopher_pass").select("doc_id")),
}


def _rows(df):
    return sorted(df.collect(), key=repr)


@pytest.mark.parametrize("mode", list(CASES))
def test_every_mode_through_main_matches_its_operator(spark, inputs, tmp_path, mode):
    assert list(CASES) == list(curate.MODES)  # a new mode needs a case here
    name, extra, want, *view = CASES[mode]
    out = str(tmp_path / "out")
    curate.main(["--mode", mode, "--input", inputs[name], "--output", out,
                 *(a.format(**inputs) for a in extra)])
    got = spark.read.parquet(
        f"{out}/stage_quality.parquet" if mode == "pipeline" else out
    )
    if view:
        got = view[0](got)
    expected = want(spark, spark.read.parquet(inputs[name]), inputs)
    assert got.columns == expected.columns
    rows = _rows(expected)
    assert rows
    assert _rows(got) == rows


@pytest.mark.parametrize("mode, flag", [
    ("decontaminate", "--eval-input"), ("bpeencode", "--bpe-model"),
    ("imgtext", "--media-input"), ("snapdiff", "--old-input"),
    ("robotsfilter", "--robots"),
])
def test_missing_required_input_is_a_usage_error(mode, flag, monkeypatch, capsys):
    # a session start would raise AttributeError, not exit with usage
    monkeypatch.setattr(curate, "SparkSession", None)
    with pytest.raises(SystemExit) as exc:
        curate.main(["--mode", mode, "--input", "in", "--output", "out"])
    assert exc.value.code == 2
    assert f"--mode {mode} requires {flag}" in capsys.readouterr().err
