"""jobs/curate.py --mode filter / imagededup / audiodedup driven through
main() the way spark-submit runs them: the shipped modes call the same
operators the query rows check (analytics.corpus_filter,
multimodal.perceptual_keepers), so these pin the CLI wiring around them —
one output row per input, keepers at the component minimum, undecodable
media passed through with their error."""

import sys

import numpy as np
import pytest

from htmlx.spark import multimodal
from htmlx.spark.multimodal import encode_wav
from htmlx.spark.session import get_spark
from htmlx.spark.tiffbmp import encode_bmp
from tests.test_components import SF_DIR


@pytest.fixture(scope="module")
def spark():
    s = get_spark(cores=4, app_name="htmlx-curate-cli-test")
    yield s
    s.stop()


def _curate(spark, monkeypatch, tmp_path, mode, inp):
    from jobs.curate import main

    out = str(tmp_path / f"{mode}_out")
    monkeypatch.setattr(sys, "argv", [
        "curate.py", "--mode", mode, "--input", inp, "--output", out,
    ])
    main()
    return spark.read.parquet(out)


def test_filter_mode_is_corpus_filter_and_keeps_null_text_docs(
    spark, tmp_path, monkeypatch
):
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

    out = _curate(spark, monkeypatch, tmp_path, "filter", inp)
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
    out = _curate(spark, monkeypatch, tmp_path, "imagededup", inp)
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


def test_audiodedup_mode_keeps_component_minimum(spark, tmp_path, monkeypatch):
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
    out = _curate(spark, monkeypatch, tmp_path, "audiodedup", inp)
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
