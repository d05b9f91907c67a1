"""Audit event parity with the reference collector (audit.go:52-67, 184-346,
audit_test.go:880-1000) — levels, messages, raw-value truncate/drop/escape —
plus the extractor-emitted violation events (processor.go:333-345,
extract.go:389-391)."""

from htmlx.core.extract import Config, Extractor
from htmlx.core.sanitize import AuditRecorder, _go_duration


def one(rec):
    assert len(rec.events) == 1
    return rec.events[0]


def test_blocked_tag_entry():
    rec = AuditRecorder()
    rec.record_blocked_tag("script")
    e = one(rec)
    assert e["event_type"] == "blocked_tag"
    assert e["level"] == "warning"
    assert e["message"] == "Blocked dangerous HTML tag: script"
    assert e["tag"] == "script"
    assert e["ts"] > 0


def test_blocked_attr_raw_value_included():
    # audit_test.go "blocked attr": IncludeRawValues=true keeps the value
    rec = AuditRecorder(include_raw_values=True)
    rec.record_blocked_attr("onclick", "alert(1)")
    e = one(rec)
    assert e["level"] == "warning"
    assert e["message"] == "Blocked dangerous attribute: onclick"
    assert e["attribute"] == "onclick"
    assert e["raw_value"] == "alert(1)"


def test_raw_value_dropped_by_default():
    # DefaultAuditConfig: IncludeRawValues=false (audit.go:119-139)
    rec = AuditRecorder()
    rec.record_blocked_attr("onclick", "alert(1)")
    assert one(rec)["raw_value"] == ""


def test_raw_value_truncated_then_escaped():
    # Record (audit.go:184-206): truncate at MaxRawValueLength bytes + "...",
    # then HTML-escape (sanitizeRawValue, audit.go:631-640)
    rec = AuditRecorder(include_raw_values=True, max_raw_value_length=10)
    rec.record_blocked_attr("onclick", "<script>" + "a" * 20)
    e = one(rec)
    assert e["raw_value"] == "&lt;script&gt;aa..."


def test_blocked_url_keeps_full_url_for_scheme_blocks():
    # audit_test.go "blocked url": URL field carries the full url
    rec = AuditRecorder()
    rec.record_blocked_url("javascript:alert(1)", "javascript scheme")
    e = one(rec)
    assert e["message"] == "Blocked dangerous URL: javascript scheme"
    assert e["blocked_url"] == "javascript:alert(1)"


def test_input_violation_entry():
    rec = AuditRecorder()
    rec.record_input_violation(100, 50, "input_too_large")
    e = one(rec)
    assert e["event_type"] == "input_violation"
    assert e["level"] == "critical"
    assert e["message"] == "Input validation violation: input_too_large"
    assert e["input_size"] == 100 and e["max_size"] == 50


def test_depth_violation_entry():
    # audit_test.go "depth violation": RecordDepthViolation(150, 100)
    rec = AuditRecorder()
    rec.record_depth_violation(150, 100)
    e = one(rec)
    assert e["level"] == "warning"
    assert e["message"] == "Depth limit exceeded: 150 > 100"
    assert e["depth"] == 150 and e["max_depth"] == 100


def test_timeout_entry_go_duration_format():
    rec = AuditRecorder()
    rec.record_timeout(5.0)
    assert one(rec)["message"] == "Processing timeout exceeded: 5s"
    assert _go_duration(0.5) == "500ms"
    assert _go_duration(90) == "1m30s"
    assert _go_duration(3600) == "1h0m0s"
    assert _go_duration(2.5) == "2.5s"


# -- extractor-emitted events ------------------------------------------------


def test_oversize_input_emits_input_violation():
    # processor.go:333-345: validateInput records before erroring
    ex = Extractor(Config(max_input_size=10, audit_enabled=True))
    r = ex.extract(b"<p>" + b"x" * 100 + b"</p>")
    assert r.error == "input_too_large"
    assert [e["event_type"] for e in r.audit] == ["input_violation"]
    assert r.audit[0]["input_size"] == 107
    assert r.audit[0]["max_size"] == 10


def test_depth_exceeded_emits_depth_violation():
    # extract.go:389-391
    ex = Extractor(Config(max_depth=5, audit_enabled=True))
    r = ex.extract(b"<div>" * 20 + b"deep" + b"</div>" * 20)
    assert r.error == "max_depth_exceeded"
    assert any(
        e["event_type"] == "depth_violation" and e["depth"] == 6 and e["max_depth"] == 5
        for e in r.audit
    )


def test_timeout_emits_event_and_bounded_overrun():
    # Per-stage cooperative checks: an adversarial doc exits with
    # error='timeout' close to the budget, with an audit event recorded.
    import time

    big = ("<div onclick='x'>" + "word " * 200 + "</div>") * 10_000
    ex = Extractor(Config(processing_timeout_s=0.05, audit_enabled=True))
    t0 = time.monotonic()
    r = ex.extract(big.encode())
    elapsed = time.monotonic() - t0
    assert r.error == "timeout"
    assert any(e["event_type"] == "timeout" for e in r.audit)
    # the checks are between stages; allow generous slack for one stage
    assert elapsed < 5.0


def test_audit_disabled_collects_nothing():
    ex = Extractor(Config(max_input_size=10))  # audit off (default)
    r = ex.extract(b"<p>" + b"x" * 100 + b"</p>")
    assert r.error == "input_too_large"
    assert r.audit == []


def test_data_url_blocked_url_truncated_at_256_bytes():
    # truncateAuditURL applies at the data-URL call sites (sanitize.go:513-562)
    ex = Extractor(Config(audit_enabled=True))
    long_data = "data:text/plain," + "a" * 500
    r = ex.extract(f'<a href="{long_data}">x</a><p>hello world</p>'.encode())
    evs = [e for e in r.audit if e["event_type"] == "blocked_url"]
    assert len(evs) == 1
    assert evs[0]["blocked_url"] == long_data[:256] + "...[truncated]"
    assert evs[0]["message"] == "Blocked dangerous URL: unsafe media type in data URL: text/plain"
