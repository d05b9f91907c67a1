"""Media extraction — ported from internal/media_test.go / media.go semantics."""

import re
import string
import sys

from htmlx.core.extract import extract
from htmlx.core.media import (
    AUDIO_REGEX,
    MAX_REGEX_MATCHES,
    VIDEO_REGEX,
    _AUDIO_REGEX_LOWERED,
    _VIDEO_REGEX_LOWERED,
    _aligned_lower,
    _regex_urls,
    detect_audio_type,
    detect_video_type,
    extract_attribute_value,
    extract_tag_attributes,
    has_media_reference,
    is_video_url,
)


def test_video_type_detection():
    assert detect_video_type("https://x.com/v.mp4") == "video/mp4"
    assert detect_video_type("https://x.com/v.M4V") == "video/mp4"
    assert detect_video_type("https://x.com/v.webm?t=1") == "video/webm"
    assert detect_video_type("https://x.com/v.mov#frag") == "video/quicktime"
    assert detect_video_type("https://www.youtube.com/embed/abc") == "embed"
    assert detect_video_type("https://player.vimeo.com/video/123") == "embed"
    assert detect_video_type("https://x.com/page.html") == ""


def test_audio_type_detection():
    assert detect_audio_type("https://x.com/a.mp3") == "audio/mpeg"
    assert detect_audio_type("https://x.com/a.OGG?x=1") == "audio/ogg"
    assert detect_audio_type("https://x.com/a.flac") == "audio/flac"
    assert detect_audio_type("https://x.com/a.txt") == ""


def test_is_video_url():
    assert is_video_url("https://x.com/v.mkv")
    assert is_video_url("https://bilibili.com/video/x")
    assert not is_video_url("https://x.com/doc.pdf")


def test_has_media_reference_gate():
    # the gate reads the page's lower() copy, which the caller makes once
    assert has_media_reference("see https://x.com/v.mp4 here")
    assert has_media_reference("<iframe src='https://youtube.com/embed/x'>")
    assert has_media_reference("file.MP3".lower())
    assert not has_media_reference("<p>plain text, no media at all</p>")
    # case-insensitive end to end: the page is lowered before the gate
    r = extract(b"<article><p>Listen at HTTPS://CDN.X.COM/SONG.MP3 today.</p></article>")
    assert [a["url"] for a in r.audios] == ["HTTPS://CDN.X.COM/SONG.MP3"]


def _tag_attributes(html, tag, *attrs):
    return extract_tag_attributes(html, _aligned_lower(html, html.lower()), tag, *attrs)


def test_extract_tag_attributes_raw():
    html = '<IFRAME SRC="https://youtube.com/embed/a"></IFRAME><iframe src=unquoted.mp4 width=5>'
    assert _tag_attributes(html, "iframe", "src") == [
        "https://youtube.com/embed/a",
        "unquoted.mp4",
    ]
    tag = '<embed data="x.mp4" src=\'y.mp4\'>'
    assert extract_attribute_value(tag, tag.lower(), "src") == "y.mp4"
    assert extract_attribute_value("<embed nodata>", "<embed nodata>", "src") == ""


def test_tag_scan_indexes_the_string_it_searched():
    # 'İ'.lower() is two characters, so offsets found in a full lower()
    # copy land past the tag in the page; the scan reads a copy that keeps
    # every character at its own index
    tail = '<iframe src="https://www.youtube.com/embed/abc">'
    for k in (0, 1, 12):
        html = "İ" * k + tail
        assert _tag_attributes(html, "iframe", "src") == ["https://www.youtube.com/embed/abc"]
    # the same inside a tag, before the attribute
    html = '<iframe title="İİİİİİ" src="https://www.youtube.com/embed/abc">'
    assert _tag_attributes(html, "iframe", "src") == ["https://www.youtube.com/embed/abc"]
    page = ("<article><p>" + "İ" * 12 + " enough words in this paragraph for content.</p>"
            + tail + "</iframe></article>").encode()
    assert [v["url"] for v in extract(page).videos] == ["https://www.youtube.com/embed/abc"]


def _regex_urls_reference(html, regex):
    return [m.group(0) for m in regex.finditer(html)][:MAX_REGEX_MATCHES]


def test_lowered_regex_scan_matches_case_insensitive_scan():
    pages = [
        "see HTTPS://X.COM/A.MP4 and https://x.com/B.Mp3 and Http://x.com/c.OGG",
        # 'ſ' and 'ı' match 's' and 'i' under (?i); lower() keeps them
        "httpſ://x.com/a.mp4 https://x.com/a.mp3 hTTpſ://x.com/b.opuſ",
        "https://x.com/clip.avı HTTPS://X.COM/B.AVI https://x.com/ı.webm",
        # 'İ' lowers to two characters, so spans would shift
        "İ https://x.com/İ.mp4 HTTPS://X.COM/B.WAV",
        # Kelvin sign: lower() and (?i) both take it to 'k'
        "https://x.com/\u212aa.mkv https://x.com/\u212a.flac",
        # past the 1,000-match cap, in mixed case
        " ".join(f"HtTpS://x.com/{i}.Mp4 https://x.com/{i}.M4A" for i in range(1_200)),
    ]
    for page in pages:
        lowered = page.lower()
        for regex, lowered_regex in ((VIDEO_REGEX, _VIDEO_REGEX_LOWERED),
                                     (AUDIO_REGEX, _AUDIO_REGEX_LOWERED)):
            got = _regex_urls(page, lowered, regex, lowered_regex)
            assert got == _regex_urls_reference(page, regex)
    assert len(_regex_urls(pages[-1], pages[-1].lower(), VIDEO_REGEX, _VIDEO_REGEX_LOWERED)) == 1_000


def test_only_dotless_i_long_s_and_dotted_i_break_the_lowered_scan():
    # Over every code point: (?i) matches a character to an ASCII letter
    # exactly when lower() maps it to that single letter, except for the
    # three characters _regex_urls falls back on; and lower() moves no
    # character into or out of the patterns' excluded class.
    every = "".join(map(chr, range(sys.maxunicode + 1)))
    changed = [(c, c.lower()) for c in every if c.lower() != c]
    ascii_letters = set(string.ascii_lowercase)
    to_letter = {c for c, low in changed if low in ascii_letters} | ascii_letters
    letters = set(re.findall("(?i)[a-z]", every))
    assert letters - to_letter == {"\u0130", "\u0131", "\u017f"}
    assert to_letter <= letters
    assert all(re.fullmatch("(?i)" + low, c) for c, low in changed if low in ascii_letters)
    excluded = re.compile(r"[\s<>\"',;)}\]]")
    assert [c for c, low in changed
            if len(low) == 1 and bool(excluded.match(c)) != bool(excluded.match(low))] == []


def test_videos_from_sanitized_iframe():
    # iframe is removed by sanitization but the raw-HTML pre-scan still
    # captures it (media.go:39-48)
    html = (
        b"<article><p>Long enough paragraph with actual text content here.</p>"
        b'<iframe src="https://www.youtube.com/embed/xyz" width="560"></iframe></article>'
    )
    r = extract(html)
    urls = {v["url"]: v for v in r.videos}
    assert "https://www.youtube.com/embed/xyz" in urls
    assert urls["https://www.youtube.com/embed/xyz"]["type"] == "embed"


def test_regex_scan_bare_urls():
    html = (
        b"<article><p>Watch https://cdn.x.com/clip.mp4 and listen "
        b"https://cdn.x.com/song.mp3 today.</p></article>"
    )
    r = extract(html)
    assert [v["url"] for v in r.videos] == ["https://cdn.x.com/clip.mp4"]
    assert [a["url"] for a in r.audios] == ["https://cdn.x.com/song.mp3"]
    assert r.videos[0]["type"] == "video/mp4"


def test_media_gate_skips_clean_docs():
    r = extract(b"<article><p>No media anywhere in this document text.</p></article>")
    assert r.videos == [] and r.audios == []


def test_dedup_first_seen():
    html = (
        b"<article><p>Content text for the scorer to chew on properly.</p>"
        b'<video src="https://x.com/v.mp4"></video>'
        b"<p>also https://x.com/v.mp4 in text</p></article>"
    )
    r = extract(html)
    assert len(r.videos) == 1


def test_raw_scan_gate_1mb():
    # >1MB doc: regex/raw scans silently skipped (output-affecting cap,
    # extract.go:788-790); DOM <video> still found
    filler = b"<p>" + b"x" * 1_100_000 + b"</p>"
    html = b"<article>" + filler + b'<video src="https://x.com/v.mp4"></video>' + \
        b"<p>bare https://x.com/other.mp4 url</p></article>"
    r = extract(html)
    urls = [v["url"] for v in r.videos]
    assert "https://x.com/v.mp4" in urls
    assert "https://x.com/other.mp4" not in urls
