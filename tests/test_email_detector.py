"""The email detector is linear in page length: its local part is
capped at 64 characters (RFC 5321), so a long run of local-part
characters before an '@' is no longer rescanned from every word
boundary in it."""

import time

from pii_extract_base_spark.operators.detect import (
    get_processor, process_page)


def _emails(text):
    ents, _ = process_page(get_processor(("en",)), text, "en", "u")
    return [e["value"] for e in ents if e["type"] == "EMAIL_ADDRESS"]


def _cpu_s(text, repeat=3):
    proc = get_processor(("en",))
    best = float("inf")
    for _ in range(repeat):
        t = time.process_time()
        process_page(proc, text, "en", "u")
        best = min(best, time.process_time() - t)
    return best


def test_email_detection_is_linear_in_run_length():
    """A 56 KB run of dotted/hyphenated word characters ending in '@'
    (unbounded, 4x the CPU per 2x the length) costs at most 3x as much
    at twice the length."""
    n = 8_000                                  # 7 chars each: 56 KB
    t1 = _cpu_s(("a.b-c_d" * n) + "@")
    t2 = _cpu_s(("a.b-c_d" * 2 * n) + "@")
    assert t2 <= 3 * t1, (t1, t2)


def test_email_local_part_is_capped_at_64_chars():
    assert _emails("mail j.doe+news@example.com now") == [
        "j.doe+news@example.com"]
    # over 64 chars: only the tail that starts at a word boundary
    # within the last 64 matches; a run with no such boundary does not
    local = "a." * 40 + "b"
    assert _emails(local + "@example.com") == [
        local[-64:] + "@example.com"]
    assert _emails("x" * 70 + "@example.com") == []
    assert _emails("x" * 64 + "@example.com") == [
        "x" * 64 + "@example.com"]
