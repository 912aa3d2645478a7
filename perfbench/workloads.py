"""The benchmark's workloads, run through the engine's public API.

Every workload is a closed loop: an operation (a crawl wave, or a
schedule and a dequeue) starts only after the previous one returned. A
workload runs its set-up, then operations until ``seconds`` of operation
time have passed (at least one, at most ``max_ops``), then checks every
output against an independent expectation. With a :class:`Tracer` it also
records spans and, after each crawl wave, replays the wave's lazy layers
on their persisted inputs (see :func:`replay_wave`).
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass, field, replace
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from kermit_spark.catalog import SnapshotCatalog
from kermit_spark.corpus import CorpusSpec, build_corpus
from kermit_spark.crawler import Crawler, CrawlConfig
from kermit_spark.fetch import CorpusFetcher
from kermit_spark.frontier import (
    FRONTIER_TABLE,
    SCHEDULED,
    Frontier,
    Limit,
    Politeness,
    dequeue,
)
from kermit_spark.parse import discover_links, parse_documents
from kermit_spark.robots import robots_gate

from .checks import Verdict, check_crawl, check_dequeue, check_schedule
from .tracing import Tracer

# frontier/documents partitions of every workload (the e2e tests' value)
CRAWL_PARTITIONS = 8
# frontier_merge: per-host dequeue budget, and the share of URLs (in
# tenths) that sit on the one hot host
DEQUEUE_BUDGET = 50
HOT_SHARE_TENTHS = 3


@dataclass
class Outcome:
    """What a workload run measured and whether its outputs were right."""

    kind: str  # "crawl" | "frontier"
    setup_s: float
    setup_parts: dict
    ops: list[dict]  # one per operation, set-up operations included
    timed: list[dict]  # the timed operations only
    verdict: Verdict
    layers: dict = field(default_factory=dict)  # per-layer metrics (traced)
    info: dict = field(default_factory=dict)


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _noop(df: DataFrame) -> None:
    """Force a DataFrame without writing it anywhere."""
    df.write.format("noop").mode("overwrite").save()


def _dir_size(path: Path) -> tuple[int, int]:
    nbytes = nfiles = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                nbytes += os.path.getsize(os.path.join(dirpath, name))
                nfiles += 1
            except OSError:
                pass
    return nbytes, nfiles


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# -- crawl workloads ------------------------------------------------------------


@dataclass(frozen=True)
class CrawlShape:
    n_hosts: int
    base_pages: int
    seeds_per_host: int
    budget: int
    # untimed waves before the timed ones (0: the first wave is timed)
    warm_waves: int = 1
    extra_text_runs: int = 0
    text_run_repeats: int = 16
    media_id_space: int = 300
    # documents whose spans are compared with the oracle; None = all
    span_sample: int | None = None
    max_ops: int = 4
    heap_mb: int = 3072
    heap_floor_mb: int = 2048

    def spec(self, seed: int) -> CorpusSpec:
        return CorpusSpec(
            seed=seed,
            n_hosts=self.n_hosts,
            base_pages=self.base_pages,
            links_per_page=4,
            media_id_space=self.media_id_space,
            extra_text_runs=self.extra_text_runs,
            text_run_repeats=self.text_run_repeats,
        )


def _seeds(shape: CrawlShape, spec: CorpusSpec) -> list[str]:
    return [
        f"http://h{h}.test/p/{p}.html"
        for h in range(spec.n_hosts)
        for p in range(min(shape.seeds_per_host, spec.pages_for_host(h)))
    ]


def run_crawl(
    spark: SparkSession, shape: CrawlShape, seed: int, seconds: float, work: Path,
    tracer: Tracer | None,
) -> Outcome:
    spec = shape.spec(seed)
    cfg = CrawlConfig(
        num_partitions=CRAWL_PARTITIONS,
        politeness=Politeness((Limit(r".*", shape.budget),)),
    )
    seeds = _seeds(shape, spec)

    corpus, corpus_s = _timed(lambda: build_corpus(spark, spec).persist())
    n_corpus, count_s = _timed(corpus.count)
    corpus_s += count_s

    root = work / "crawl"
    t0 = time.perf_counter()
    crawler = Crawler(spark, SnapshotCatalog(spark, str(root)), CorpusFetcher(corpus), cfg)
    crawler.seed(seeds)
    seed_s = time.perf_counter() - t0

    ops: list[dict] = []
    timed: list[dict] = []

    def wave(is_timed: bool) -> dict:
        pre_sid = crawler.catalog.current_snapshot(FRONTIER_TABLE)
        before = _dir_size(root) if tracer else None
        trace_id = len(ops)
        if tracer:
            tracer.wave = trace_id
        st, wall = _timed(crawler.run_wave)
        op = {
            "op": st.wave, "trace_id": trace_id, "wall_s": wall, "selected": st.n_selected,
            "blocked": st.n_blocked, "fetched": st.n_selected - st.n_blocked,
            "new": st.n_new_urls, "pre_snapshot": pre_sid, "timed": is_timed,
        }
        if tracer:
            after = _dir_size(root)
            op["bytes_written"] = after[0] - before[0]
            op["files_written"] = after[1] - before[1]
            if is_timed:
                op["replay"] = replay_wave(tracer, crawler, corpus, pre_sid)
        ops.append(op)
        return op

    warm_s = sum(wave(is_timed=False)["wall_s"] for _ in range(shape.warm_waves))
    elapsed = 0.0
    while not timed or (elapsed < seconds and len(timed) < shape.max_ops):
        op = wave(is_timed=True)
        if op["selected"] == 0:
            raise RuntimeError(f"frontier ran dry at wave {op['op']}: the shape is too small")
        timed.append(op)
        elapsed += op["wall_s"]

    setup_parts = {
        "corpus_s": corpus_s,
        "seed_s": seed_s,
        "warm_waves_s": warm_s,
    }
    setup_s = corpus_s + seed_s + warm_s

    if tracer:
        tracer.wave = "end"
    flush_s = _end_of_run_flush(crawler.frontier)
    verdict, check_s = _timed(
        lambda: _check_crawl(spark, shape, spec, seeds, crawler, corpus, len(ops), seed)
    )
    out = Outcome("crawl", setup_s, setup_parts, ops, timed, verdict)
    out.info = {"corpus_rows": n_corpus, "seeds": len(seeds), "check_s": check_s}
    if tracer:
        fill = crawler.frontier.seen_fill_stats()
        out.layers = crawl_layers(tracer, timed, fill, flush_s)
    corpus.unpersist()
    return out


def _end_of_run_flush(frontier: Frontier) -> float:
    """Crawl-end blob flush, timed the same way in traced and untraced runs."""
    return _timed(frontier.flush_bloom)[1]


def _check_crawl(
    spark, shape: CrawlShape, spec: CorpusSpec, seeds: list[str], crawler: Crawler,
    corpus: DataFrame, n_waves: int, seed: int,
) -> Verdict:
    from tests.oracle import extract_spans_oracle, oracle_crawl

    # the oracle walks the same link graph without the padding text runs:
    # they only add text inside the span before each page's <img>, so crawl
    # order and URL-seen set are those of the narrow twin, and span
    # equality on the real bodies is checked on a sample below
    narrow = spec if spec.extra_text_runs == 0 else replace(spec, extra_text_runs=0)
    twin = corpus if narrow is spec else build_corpus(spark, narrow)
    rows = twin.select(
        "url", "status", "content_type", "body",
        F.xxhash64("url").alias("h"),
        F.concat(F.col("url"), F.lit("?a%3Eb")).alias("v"),
    ).withColumn("hv", F.xxhash64("v")).collect()
    corpus_map = {r["url"]: (r["status"], r["content_type"], r["body"]) for r in rows}
    url_hash = {r["url"]: r["h"] for r in rows}
    url_hash.update((r["v"], r["hv"]) for r in rows)
    want = oracle_crawl(
        corpus_map, seeds, url_hash, limits=[(".*", shape.budget)], max_waves=n_waves
    )

    if shape.span_sample is None:
        want_spans = want.documents
    else:
        html = sorted(
            u for u in want.documents
            if corpus_map.get(u, (0, ""))[1] == "text/html" and corpus_map[u][0] == 200
        )
        sample = random.Random(seed).sample(html, min(shape.span_sample, len(html)))
        bodies = corpus.filter(F.col("url").isin(sample)).select("url", "body").collect()
        want_spans = {r["url"]: extract_spans_oracle(r["body"]) for r in bodies}
    # one pass over the documents: crawl order, plus spans of checked docs
    keep = F.col("url").isin(list(want_spans)) if shape.span_sample else F.lit(True)
    docs = crawler.documents().select(
        "p", "host", "rank", "url", F.when(keep, F.col("spans")).alias("spans")
    ).collect()
    order = {(r["p"], r["host"], r["rank"]): r["url"] for r in docs}
    fetch_wave = {r["url"]: r["p"] for r in docs}
    spans = {
        r["url"]: [tuple(s) for s in (r["spans"] or [])]
        for r in docs if r["url"] in want_spans
    }
    seen = {r["url"]: r["wave"] for r in crawler.frontier.read().select("url", "wave").collect()}
    want_seen = {u: rec["wave"] for u, rec in want.frontier.items()}
    return check_crawl(
        order, seen, spans, fetch_wave, want.crawl_order, want_seen, want_spans,
        last_wave=n_waves - 1,
    )


def replay_wave(tracer: Tracer, crawler: Crawler, corpus: DataFrame, pre_sid: int) -> dict:
    """Re-run the wave's lazy layers on their persisted inputs, each forced
    by its own ``noop`` sink so its time is its own: ``dequeue`` on the
    frontier snapshot the wave started from, then ``robots_gate``,
    ``CorpusFetcher.fetch``, ``parse_documents`` and ``discover_links``,
    each on the cached output of the one before. Writes no table.

    The dequeue replay applies the configured politeness budget but not the
    crawler's per-host Crawl-delay caps, so its row count can exceed the
    wave's by the capped hosts' surplus."""
    cat, cfg = crawler.catalog, crawler.config
    res: dict = {}
    cached: list[DataFrame] = []

    def force(name: str, df: DataFrame, *aggs) -> dict:
        obs = Observation()
        with tracer.span(f"replay.{name}") as rec:
            _noop(df.observe(obs, F.count(F.lit(1)).alias("rows"), *aggs))
        res[f"{name}_s"] = tracer.dur(rec)
        return obs.get

    eligible = cat.read(FRONTIER_TABLE, snapshot=pre_sid).filter(
        (F.col("status") == SCHEDULED) & cfg.admit_expr(F.col("url"))
    )
    selected = dequeue(eligible, cfg.politeness, sub_salts=cfg.sub_salts).persist()
    cached.append(selected)
    res["dequeue_rows"] = force("dequeue", selected)["rows"]

    allowed = robots_gate(selected, cat.read("robots")).persist()
    cached.append(allowed)
    res["blocked_rows"] = res["dequeue_rows"] - force("robots_gate", allowed)["rows"]

    fetcher = CorpusFetcher(corpus)
    fetched = fetcher.fetch(allowed).persist()
    cached.append(fetched)
    m = force(
        "fetch", fetched,
        F.sum(F.when(F.col("status") == 404, 1).otherwise(0)).alias("miss"),
        F.sum(F.coalesce(F.length("body"), F.lit(0))).alias("body_chars"),
    )
    res.update(fetch_rows=m["rows"], miss_rows=m["miss"] or 0, body_mb=(m["body_chars"] or 0) / 1e6)

    docs = parse_documents(fetched).persist()
    cached.append(docs)
    m = force("parse", docs, F.sum(F.size("spans")).alias("spans"))
    res.update(docs=m["rows"], spans=m["spans"] or 0)

    links = discover_links(docs).filter(cfg.admit_expr(F.col("url")))
    res["links"] = force("discover", links)["rows"]

    for df in reversed(cached):
        df.unpersist()
    # the replay fetcher caches its corpus hits; release them too
    if fetcher._last_cache is not None:
        fetcher._last_cache.unpersist()
    return res


def crawl_layers(tracer: Tracer, timed: list[dict], fill: dict, flush_s: float) -> dict:
    per_wave = []
    for op in timed:
        wave = tracer.find("crawler.run_wave", wave=op["trace_id"])[0]
        commit = tracer.find("frontier.commit_wave", within=wave)[0]
        writes = [s for s in tracer.subtree(wave) if s["name"].startswith("catalog.")]
        jobs, tasks, failed = tracer.totals(wave)
        rp = op["replay"]
        per_wave.append({
            "crawler.wave_s": tracer.dur(wave),
            "crawler.self_s": tracer.self_s(wave),
            "crawler.serial_s": tracer.serial_s(wave),
            "crawler.jobs": jobs,
            "crawler.tasks": tasks,
            "crawler.failed_tasks": failed,
            "frontier.commit_s": tracer.dur(commit),
            "frontier.commit_jobs": tracer.totals(commit)[0],
            "frontier.commit_serial_s": tracer.serial_s(commit),
            "frontier.candidates": rp["links"],
            "frontier.new_rows": op["new"],
            "frontier.new_ratio": op["new"] / rp["links"] if rp["links"] else 0.0,
            "frontier.dequeue_s": rp["dequeue_s"],
            "frontier.dequeue_rows": rp["dequeue_rows"],
            "robots.gate_s": rp["robots_gate_s"],
            "robots.blocked_rows": rp["blocked_rows"],
            "fetch.fetch_s": rp["fetch_s"],
            "fetch.rows": rp["fetch_rows"],
            "fetch.miss_rows": rp["miss_rows"],
            "fetch.body_mb": rp["body_mb"],
            "parse.parse_s": rp["parse_s"],
            "parse.us_per_doc": 1e6 * rp["parse_s"] / rp["docs"] if rp["docs"] else 0.0,
            "parse.docs": rp["docs"],
            "parse.spans": rp["spans"],
            "parse.discover_s": rp["discover_s"],
            "parse.links": rp["links"],
            "catalog.write_s": sum(tracer.dur(s) for s in writes),
            "catalog.commits": len(writes),
            "catalog.mb_written": op["bytes_written"] / 1e6,
            "catalog.files_written": op["files_written"],
        })
    out = _median_layers(per_wave, sums={"crawler.failed_tasks"})
    out.update(_bloom_layers(fill, flush_s))
    return out


def _median_layers(rows: list[dict], sums=frozenset()) -> dict:
    return {
        k: (sum(r[k] for r in rows) if k in sums else _median([r[k] for r in rows]))
        for k in rows[0]
    }


def _bloom_layers(fill: dict, flush_s: float) -> dict:
    stats = list(fill.values())
    return {
        "bloom.active": int(any(s["n_items"] > 0 and s["m_bits"] > 0 for s in stats)),
        "bloom.flush_s": flush_s,
        "bloom.fill_max": max((s["fill_ratio"] or 0.0 for s in stats), default=0.0),
        "bloom.fpp_max": max((s["est_fpp"] or 0.0 for s in stats), default=0.0),
    }


# -- frontier_merge --------------------------------------------------------------


@dataclass(frozen=True)
class FrontierShape:
    n_rows: int  # frontier size after init
    candidates: int  # per round; half already seen, half new
    bloom_min_frontier: int  # below n_rows, so the Bloom prefilter is active
    n_cold_hosts: int = 5000
    max_ops: int = 4
    heap_mb: int = 3072
    heap_floor_mb: int = 2048


class UrlSpace:
    """Seeded URL ids -> URLs. A tenth-residue of a seeded affine map puts
    ``HOT_SHARE_TENTHS`` of all ids on one hot host; the rest spread over
    ``n_cold_hosts`` hosts. Pure integer arithmetic, evaluated the same way
    by Spark (to build inputs) and NumPy (to know the expected answers)."""

    def __init__(self, shape: FrontierShape, seed: int):
        rng = random.Random(seed)
        self.shape = shape
        self.seed = seed
        self.a = rng.choice([1, 3, 7, 9])
        self.b = rng.randrange(10)
        self.c = rng.choice([k for k in range(1, 5000) if k % 2 and k % 5][:200])
        self.d = rng.randrange(shape.n_cold_hosts)

    def urls(self, spark: SparkSession, lo: int, hi: int) -> DataFrame:
        s = self.shape
        hot = F.expr(f"pmod(id * {self.a} + {self.b}, 10) < {HOT_SHARE_TENTHS}")
        cold = F.expr(f"pmod((id div 10) * {self.c} + {self.d}, {s.n_cold_hosts})")
        host = F.when(hot, F.lit("hot.test")).otherwise(
            F.concat(F.lit("c"), cold.cast("string"), F.lit(".test"))
        )
        return spark.range(lo, hi).select(
            F.concat(F.lit("http://"), host, F.lit(f"/{self.seed}/"), F.col("id").cast("string")).alias("url")
        )

    def host_counts(self, n: int) -> dict[str, int]:
        s = self.shape
        ids = np.arange(n, dtype=np.int64)
        hot = (ids * self.a + self.b) % 10 < HOT_SHARE_TENTHS
        cold = ((ids // 10) * self.c + self.d) % s.n_cold_hosts
        counts = np.bincount(cold[~hot], minlength=s.n_cold_hosts)
        out = {f"c{h}.test": int(k) for h, k in enumerate(counts) if k}
        out["hot.test"] = int(hot.sum())
        return out


def run_frontier(
    spark: SparkSession, shape: FrontierShape, seed: int, seconds: float, work: Path,
    tracer: Tracer | None,
) -> Outcome:
    space = UrlSpace(shape, seed)
    politeness = Politeness((Limit(r".*", DEQUEUE_BUDGET),))

    root = work / "frontier"
    t0 = time.perf_counter()
    frontier = Frontier(
        SnapshotCatalog(spark, str(root)),
        # the crawls' count, not the engine's default of 32, which at this
        # size makes every round a chain of ~1k-row tasks
        num_partitions=CRAWL_PARTITIONS,
        bloom_min_frontier=shape.bloom_min_frontier,
    )
    frontier.init(space.urls(spark, 0, shape.n_rows))
    init_s = time.perf_counter() - t0

    verdict = Verdict()
    ops: list[dict] = []
    timed: list[dict] = []
    n = shape.n_rows

    def schedule(op_id) -> dict:
        nonlocal n
        half = shape.candidates // 2
        cands = space.urls(spark, n - half, n + half)
        new, wall = _timed(lambda: frontier.schedule(cands, wave=op_id + 1))
        verdict.merge(check_schedule(op_id, new, half))
        n += half
        return {"schedule_s": wall, "new": new}

    def deq(op_id) -> dict:
        def run():
            sel = dequeue(frontier.read().filter(F.col("status") == SCHEDULED), politeness)
            return {r["host"]: r["count"] for r in sel.groupBy("host").count().collect()}

        if tracer:
            with tracer.span("frontier.dequeue"):
                got, wall = _timed(run)
        else:
            got, wall = _timed(run)
        verdict.merge(check_dequeue(op_id, got, space.host_counts(n), DEQUEUE_BUDGET))
        return {"dequeue_s": wall, "dequeue_rows": sum(got.values())}

    # untimed warm round: the first schedule loads the Bloom blobs into the
    # driver and compiles the dedup plan; the flush commits them
    if tracer:
        tracer.wave = 0
    t0 = time.perf_counter()
    ops.append({"op": 0, "timed": False, **schedule(0)})
    frontier.flush_bloom()
    warm_s = time.perf_counter() - t0

    elapsed = 0.0
    while not timed or (elapsed < seconds and len(timed) < shape.max_ops):
        op_id = len(ops)
        if tracer:
            tracer.wave = op_id
        before = _dir_size(root) if tracer else None
        op = {"op": op_id, "timed": True, "trace_id": op_id, **schedule(op_id), **deq(op_id)}
        op["wall_s"] = op["schedule_s"] + op["dequeue_s"]
        if tracer:
            after = _dir_size(root)
            op["bytes_written"] = after[0] - before[0]
            op["files_written"] = after[1] - before[1]
        ops.append(op)
        timed.append(op)
        elapsed += op["wall_s"]

    if tracer:
        tracer.wave = "end"
    t_end = time.perf_counter()
    flush_s = _end_of_run_flush(frontier)
    dup = frontier.read().groupBy("url").count().filter(F.col("count") > 1).limit(1).count()
    if dup:
        verdict.fail(timed[-1]["op"], "frontier holds a duplicate url")
    fill = frontier.seen_fill_stats()

    out = Outcome(
        "frontier", init_s + warm_s, {"init_s": init_s, "warm_round_s": warm_s},
        ops, timed, verdict,
    )
    out.info = {
        "frontier_rows": n, "candidates": shape.candidates,
        "check_s": time.perf_counter() - t_end - flush_s,
    }
    if tracer:
        out.layers = frontier_layers(tracer, timed, fill, flush_s, shape)
    return out


def frontier_layers(tracer: Tracer, timed: list[dict], fill: dict, flush_s: float, shape) -> dict:
    per_round = []
    for op in timed:
        idx = op["trace_id"]
        commit = tracer.find("frontier.commit_wave", wave=idx)[0]
        deq = tracer.find("frontier.dequeue", wave=idx)[0]
        writes = [s for s in tracer.spans if s["wave"] == idx and s["name"].startswith("catalog.")]
        per_round.append({
            "frontier.commit_s": tracer.dur(commit),
            "frontier.commit_jobs": tracer.totals(commit)[0],
            "frontier.commit_serial_s": tracer.serial_s(commit),
            "frontier.candidates": shape.candidates,
            "frontier.new_rows": op["new"],
            "frontier.new_ratio": op["new"] / shape.candidates,
            "frontier.dequeue_s": tracer.dur(deq),
            "frontier.dequeue_rows": op["dequeue_rows"],
            "catalog.write_s": sum(tracer.dur(s) for s in writes),
            "catalog.commits": len(writes),
            "catalog.mb_written": op["bytes_written"] / 1e6,
            "catalog.files_written": op["files_written"],
        })
    out = _median_layers(per_round)
    out.update(_bloom_layers(fill, flush_s))
    return out
