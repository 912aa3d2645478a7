"""Correctness gates. Each returns the set of operations (wave or round
ids) whose output disagreed with the expectation, plus readable reasons;
an empty set means the run is correct. They take plain Python values so a
test can feed them a deliberately corrupted expectation."""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class Verdict:
    failed_ops: set = field(default_factory=set)
    reasons: list[str] = field(default_factory=list)

    def fail(self, op, reason: str) -> None:
        self.failed_ops.add(op)
        if len(self.reasons) < 20:
            self.reasons.append(f"op {op}: {reason}")

    def merge(self, other: Verdict) -> Verdict:
        for op in other.failed_ops:
            self.failed_ops.add(op)
        self.reasons.extend(other.reasons[: max(0, 20 - len(self.reasons))])
        return self


def check_crawl(
    order: dict[tuple, str],
    seen: dict[str, int],
    spans: dict[str, list[tuple]],
    fetch_wave: dict[str, int],
    want_order: dict[tuple, str],
    want_seen: dict[str, int],
    want_spans: dict[str, list[tuple]],
    last_wave: int,
) -> Verdict:
    """Crawl gate.

    ``order``/``want_order``: ``(wave, host, rank) -> url``, the crawl
    order. ``seen``/``want_seen``: URL-seen set as ``url -> discovery
    wave``. ``spans``/``want_spans``: ``url -> [(kind, text, media_ref,
    offset)]`` for the documents under check (every fetched document, or a
    sample). ``fetch_wave``: ``url -> wave`` that fetched it, to attribute a
    span mismatch to its wave."""
    v = Verdict()
    for key in set(order) | set(want_order):
        if order.get(key) != want_order.get(key):
            v.fail(key[0], f"crawl order {key}: got {order.get(key)!r}, want {want_order.get(key)!r}")
    for url in set(seen) ^ set(want_seen):
        wave = seen.get(url, want_seen.get(url, last_wave))
        side = "unexpected" if url in seen else "missing"
        # a URL is discovered by the wave before the one that may fetch it
        v.fail(min(wave, last_wave), f"{side} URL-seen entry {url}")
    for url, want in want_spans.items():
        got = spans.get(url)
        if got != want:
            v.fail(fetch_wave.get(url, last_wave), f"span sequence of {url} differs")
    return v


def check_schedule(round_id, got_new: int, want_new: int) -> Verdict:
    v = Verdict()
    if got_new != want_new:
        v.fail(round_id, f"schedule reported {got_new} new URLs, want {want_new}")
    return v


def check_dequeue(round_id, got: dict[str, int], scheduled: dict[str, int], budget: int) -> Verdict:
    """Each host's dequeue count must be ``min(budget, scheduled rows)``."""
    v = Verdict()
    for host in set(got) | {h for h, n in scheduled.items() if n > 0}:
        want = min(budget, scheduled.get(host, 0))
        if got.get(host, 0) != want:
            v.fail(round_id, f"dequeue of {host}: got {got.get(host, 0)}, want {want}")
    return v
