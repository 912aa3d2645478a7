"""The URL-seen set: one Spark layer over interchangeable probe structures.

A structure is a codec — bloom.BloomFilter or cuckoo.CuckooFilter — with one
membership interface: ``decode``/``encode`` of a url_seen row, ``insert``,
``contains``, ``delete`` (cuckoo only), ``capacity``, ``stats`` and the
``saturated`` health rule; its spec (``BloomSpec``/``CuckooSpec``) sizes new
filters (``new``, ``for_capacity``) and says whether inserts can fail
(``bounded``). Everything Spark-side is written once,
over that interface: build, cogroup merge, broadcast and cogroup probes,
distributed fill stats and the driver collect. A url_seen row names its own
codec (``k_hashes == 0`` marks cuckoo), so every path reads per-row sizes
and a heterogeneous blob set is native.

:class:`SeenSet` owns the frontier's derived membership state — the
driver-held filters, their epoch, the dirty partitions and the residency —
and the one flush/grow lifecycle both residencies share. The filter is a
shuffle-reduction prefilter, never membership truth: the frontier table is,
so any loss of derived state costs one O(frontier) rebuild, never a URL.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from .bloom import BloomFilter, BloomSpec
from .cuckoo import CuckooFilter, CuckooSpec

SeenSpec = BloomSpec | CuckooSpec

FRONTIER_TABLE = "frontier"
URL_SEEN_TABLE = "url_seen"

# saturation response: each grown blob gets GROWTH x its observed key count
# (Bloom at 10 bits/key -> fpp back to ~1e-5; cuckoo -> ~24 % load), so
# capacity quadruples per grow and the O(frontier) rebuild amortizes
GROWTH = 4.0

BLOOM_SCHEMA = StructType(
    [
        StructField("p", IntegerType(), False),
        StructField("filter", BinaryType(), True),
        StructField("n_items", LongType(), False),
        StructField("m_bits", LongType(), False),
        StructField("k_hashes", IntegerType(), False),
    ]
)

FILL_STATS_SCHEMA = StructType(
    [
        StructField("p", IntegerType(), False),
        StructField("n_items", LongType(), False),
        StructField("m_bits", LongType(), False),
        StructField("k_hashes", IntegerType(), False),
        StructField("fill_ratio", DoubleType(), False),
        StructField("est_keys", DoubleType(), False),
        StructField("est_fpp", DoubleType(), False),
    ]
)


def codec(k_hashes: int) -> type:
    return CuckooFilter if int(k_hashes) == 0 else BloomFilter


def decode(row):
    """Filter object of one url_seen row (a Spark Row or pandas Series)."""
    return codec(row["k_hashes"]).decode(
        row["filter"], row["n_items"], row["m_bits"], row["k_hashes"]
    )


def room(f) -> float:
    """Keys filter ``f`` takes before its structure's insert bound."""
    return type(f).capacity(f.m_bits) - f.n_items


def fresh(spec, n_keys: int):
    """Empty filter for a partition about to take ``n_keys``: the spec's
    size, or grown when the keys would not fit (a bounded structure)."""
    f = spec.new()
    if room(f) >= n_keys:
        return f
    return type(spec).for_capacity(int(math.ceil(n_keys * GROWTH))).new()


def _row(p: int, f) -> pd.DataFrame:
    buf, n, m, k = f.encode()
    return pd.DataFrame({"p": [p], "filter": [buf], "n_items": [n], "m_bits": [m], "k_hashes": [k]})


def _keys(pdf: pd.DataFrame) -> np.ndarray:
    return pdf["url_hash"].to_numpy(dtype=np.int64) if len(pdf) else np.empty(0, np.int64)


def build(rows: DataFrame, spec, specs: dict | None = None) -> DataFrame:
    """One blob per partition from (p, url_hash) rows — the O(frontier)
    (re)build. One Arrow group per partition, filled vectorized and shipped
    back as a single binary cell. ``specs`` sizes individual partitions
    (p -> spec; others take ``spec``): under host skew partition loads
    differ 10-100x, and the grow gives each blob GROWTH x ITS OWN key count
    instead of paying the peak partition's size P times over."""
    specs = specs or {}

    def make(pdf: pd.DataFrame) -> pd.DataFrame:
        p, h = int(pdf["p"].iloc[0]), _keys(pdf)
        f = fresh(specs.get(p, spec), len(h))
        f.insert(h)
        return _row(p, f)

    return rows.select("p", "url_hash").groupBy("p").applyInPandas(make, BLOOM_SCHEMA)


def merge(existing: DataFrame, new_rows: DataFrame, spec) -> DataFrame:
    """Insert new (p, url_hash) keys into url_seen blobs — the incremental
    wave update for table-resident sets (a rebuild every wave would be
    O(frontier)). Partitions present on one side pass through / are
    created. An existing blob's OWN row (codec, m, k) governs the insert,
    never ``spec``, which only sizes brand-new partitions: a resumed
    Frontier holds the DEFAULT spec even when the stored blobs were grown,
    and inserting modulo the wrong m would yield false NEGATIVES."""

    def fold(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        h = _keys(right)
        f = decode(left.iloc[0]) if len(left) else fresh(spec, len(h))
        f.insert(h)
        return _row(int(key[0]), f)

    return (
        existing.groupBy("p")
        .cogroup(new_rows.select("p", "url_hash").groupBy("p"))
        .applyInPandas(fold, BLOOM_SCHEMA)
    )


def probe_held(candidates: DataFrame, filters: dict) -> DataFrame:
    """Shuffle-free probe against driver-held filters: broadcast them and
    tag ``maybe_seen`` map-side with a scalar pandas UDF. The candidate
    rows never move — the cogroup variant repartitions the whole batch by
    ``p`` just to meet its blob. A partition without a filter is
    definitely new (False)."""
    bc = candidates.sparkSession.sparkContext.broadcast(filters)

    def probe(p: pd.Series, h: pd.Series) -> pd.Series:
        table = bc.value
        out = np.zeros(len(p), dtype=bool)
        pv = p.to_numpy(dtype=np.int64)
        hv = h.to_numpy(dtype=np.int64)
        for part in np.unique(pv):
            f = table.get(int(part))
            if f is not None:
                mask = pv == part
                out[mask] = f.contains(hv[mask])
        return pd.Series(out)

    probe_udf = pandas_udf(probe, BooleanType())
    return candidates.withColumn("maybe_seen", probe_udf(F.col("p"), F.col("url_hash")))


def probe_table(candidates: DataFrame, table: DataFrame) -> DataFrame:
    """Cogroup probe for sets beyond the driver budget: each Arrow group
    pairs a partition's candidate batch with its one (or zero) blob — the
    blob is never replicated per row."""
    out_schema = StructType(
        candidates.schema.fields + [StructField("maybe_seen", BooleanType(), False)]
    )
    cand_cols = [f.name for f in candidates.schema.fields]

    def test(key, cand: pd.DataFrame, blob: pd.DataFrame) -> pd.DataFrame:
        if not len(cand):
            return pd.DataFrame(columns=cand_cols + ["maybe_seen"])
        cand = cand.copy()
        if not len(blob) or blob["filter"].iloc[0] is None:
            cand["maybe_seen"] = False
        else:
            cand["maybe_seen"] = decode(blob.iloc[0]).contains(_keys(cand))
        return cand

    return candidates.groupBy("p").cogroup(table.groupBy("p")).applyInPandas(test, out_schema)


def table_fill_stats(table: DataFrame) -> DataFrame:
    """Distributed saturation stats over a url_seen table — the path for
    sets beyond the driver budget (thousands of partitions × up to hundreds
    of MB each). Stats are computed executor-side; only the 7-column row
    per blob comes back."""
    cols = [f.name for f in FILL_STATS_SCHEMA.fields]

    def stats(batches):
        for pdf in batches:
            rows = [{"p": int(r["p"]), **decode(r).stats()} for _, r in pdf.iterrows()]
            if rows:
                yield pd.DataFrame(rows)[cols]

    return table.mapInPandas(stats, FILL_STATS_SCHEMA)


def collect(table: DataFrame, max_bytes: int = 512 << 20) -> dict | None:
    """The url_seen blobs as driver-held filters (p -> filter), or None when
    they exceed ``max_bytes`` — the set then stays table-resident. The
    budget is enforced with a distributed aggregate BEFORE any collect: at
    the multi-GB scales it exists for, collecting first would OOM the
    driver before the check ran."""
    total = table.agg(F.sum(F.length(F.col("filter")))).first()[0]
    if int(total or 0) > max_bytes:
        return None
    rows = table.select("p", "filter", "n_items", "m_bits", "k_hashes").collect()
    return {int(r["p"]): decode(r) for r in rows if r["filter"] is not None}


def _cap(stats: dict) -> float:
    """Observed keys of one blob: its counter, or the fill estimate when a
    merge-heavy history made that larger."""
    est = stats["est_keys"]
    return max(stats["n_items"], est if math.isfinite(est) else 0.0)


class SeenSet:
    """The frontier's URL-seen set and its lifecycle.

    Residency: the filters are DRIVER-HELD when ``collect`` fits
    ``max_bytes`` — the wave then probes by broadcast and folds its new keys
    in-process (zero Spark jobs), and the url_seen table is only written
    every ``commit_every`` epochs or at ``flush``. Beyond the budget the set
    stays TABLE-RESIDENT: probes cogroup, and each wave's keys merge
    distributed and commit at once. Every state is stamped with the
    frontier's ``url_epoch``; a mismatch (sub-threshold waves, a crash
    between flushes, eviction from a bitset, another writer) costs one
    rebuild from the frontier table at the next use.

    Health: ``flush`` runs the codec's saturation rule over ``fill_stats``
    (driver-held: in-process, no Spark job; table-resident: one distributed
    pass) and answers saturation with a per-partition grow and rebuild. A
    fold that would overfill a bounded structure grows first instead."""

    def __init__(self, catalog, num_partitions: int, spec=None, commit_every: int = 8,
                 max_bytes: int = 512 << 20):
        self.catalog = catalog
        self.num_partitions = num_partitions
        self.spec = spec or BloomSpec()
        self.commit_every = commit_every
        self.max_bytes = max_bytes
        self.reset()

    def reset(self) -> None:
        """Forget the driver-held state; the next use reloads or rebuilds."""
        self.held: dict | None = None  # p -> filter; None = table-resident/unloaded
        self.epoch = -1  # frontier url_epoch the held filters match
        self.dirty: set[int] = set()

    # -- catalog plumbing --------------------------------------------------

    def _frontier_epoch(self) -> int:
        return int(self.catalog.snapshot_property(FRONTIER_TABLE).get("url_epoch", 0))

    def _synced(self) -> int:
        return int(self.catalog.snapshot_property(URL_SEEN_TABLE).get("synced_epoch", -1))

    def _commit(self, blobs: DataFrame, parts, epoch: int) -> None:
        self.catalog.overwrite_partitions(
            URL_SEEN_TABLE, blobs, parts, properties={"synced_epoch": epoch}
        )

    def _rebuild(self, epoch: int, specs: dict | None = None) -> None:
        keys = self.catalog.read(FRONTIER_TABLE).select("p", "url_hash")
        self._commit(build(keys, self.spec, specs), range(self.num_partitions), epoch)
        # collected at once when it fits: the next wave probes without a reload
        self._load(epoch)

    def _load(self, epoch: int) -> None:
        self.held = collect(self.catalog.read(URL_SEEN_TABLE), self.max_bytes)
        self.epoch = epoch if self.held is not None else -1
        self.dirty = set()

    # -- lifecycle ---------------------------------------------------------

    def create(self, rows: DataFrame, active: bool) -> None:
        """url_seen for a new frontier: built from ``rows`` when ``active``,
        else empty and unsynced (built on demand at first use)."""
        self.catalog.create(
            URL_SEEN_TABLE, build(rows if active else rows.limit(0), self.spec),
            self.num_partitions, properties={"synced_epoch": 0 if active else -1},
        )

    def ensure_current(self) -> None:
        """Bring the set to the frontier's url_epoch: no-op when the held
        filters match; otherwise rebuild a stale table once, then collect
        it if it fits the driver budget."""
        epoch = self._frontier_epoch()
        if self.held is not None and self.epoch == epoch:
            return
        if self._synced() != epoch:
            self._rebuild(epoch)
        else:
            self._load(epoch)

    def probe(self, rows: DataFrame) -> DataFrame:
        """``rows`` tagged ``maybe_seen``: False ⇒ definitely new."""
        self.ensure_current()
        if self.held is not None:
            return probe_held(rows, self.held)
        return probe_table(rows, self.catalog.read(URL_SEEN_TABLE))

    def add(self, keys: DataFrame, parts, epoch: int) -> None:
        """Insert a committed wave's new (p, url_hash) ``keys``, written to
        frontier partitions ``parts``; ``epoch`` is the url_epoch that
        commit produced. Only a set current at ``epoch - 1`` is updated —
        a stale one stays stale and rebuilds once at next use."""
        if self.held is not None and self.epoch == epoch - 1:
            pdf = keys.toPandas()
            ps, hs = pdf["p"].to_numpy(np.int64), pdf["url_hash"].to_numpy(np.int64)
            uniq, counts = np.unique(ps, return_counts=True)
            incoming = dict(zip(uniq.tolist(), counts.tolist()))
            if any(p in self.held and n > room(self.held[p]) for p, n in incoming.items()):
                self._grow(self.fill_stats(), incoming)
                return
            for p, n in incoming.items():
                f = self.held.get(p) or fresh(self.spec, n)
                f.insert(hs[ps == p])
                self.held[p] = f
            self.epoch = epoch
            self.dirty.update(incoming)
            if epoch - self._synced() >= self.commit_every:
                self.flush()
        elif self._synced() == epoch - 1:
            parts = sorted(parts)
            existing = self.catalog.read(URL_SEEN_TABLE).filter(F.col("p").isin(parts))
            if self.spec.bounded:
                # a full cuckoo table cannot take the merge: check first
                rows = keys.groupBy("p").count().join(existing.drop("filter"), "p").collect()
                if any(
                    r["count"] > codec(r["k_hashes"]).capacity(r["m_bits"]) - r["n_items"]
                    for r in rows
                ):
                    self._grow(self.fill_stats(), {int(r["p"]): r["count"] for r in rows})
                    return
            self._commit(merge(existing, keys, self.spec), parts, epoch)

    def remove(self, keys: DataFrame, epoch: int) -> None:
        """Un-see evicted (p, url_hash) ``keys``; ``epoch`` is the url_epoch
        the eviction produced. Deletable held filters drop the keys in place
        — O(evicted), no rebuild; otherwise (a bitset, or a set not held
        current) the held copy is dropped and the next use rebuilds once."""
        held = self.held
        if held is None or self.epoch != epoch - 1 or not all(
            hasattr(f, "delete") for f in held.values()
        ):
            self.reset()
            return
        pdf = keys.toPandas()
        ps, hs = pdf["p"].to_numpy(np.int64), pdf["url_hash"].to_numpy(np.int64)
        for p in np.unique(ps).tolist():
            if p in held:
                held[p].delete(hs[ps == p])
                self.dirty.add(p)
        self.epoch = epoch
        if epoch - self._synced() >= self.commit_every:
            self.flush()

    def flush(self) -> None:
        """Saturation check, then commit the dirty driver-held filters to
        url_seen (partition-pruned). A no-op for a table that is not in use
        (stale, e.g. while the frontier is below the Bloom threshold).

        The check runs even with NOTHING dirty: under ``exact_dedup=False``
        a saturated filter admits nothing, so nothing ever goes dirty —
        gating the check on dirtiness would leave it saturated FOREVER,
        silently dropping every new URL."""
        if self.held is None and self._synced() != self._frontier_epoch():
            return
        stats = self.fill_stats()
        if any(codec(s["k_hashes"]).saturated(s) for s in stats.values()):
            self._grow(stats)
            return
        if not self.dirty:
            return
        dirty = sorted(self.dirty)
        rows = [(p, *self.held[p].encode()) for p in dirty]
        df = self.catalog.spark.createDataFrame(rows, BLOOM_SCHEMA)
        self._commit(df, dirty, self.epoch)
        self.dirty = set()

    def _grow(self, stats: dict[int, dict], incoming: dict[int, int] | None = None) -> None:
        """Saturation response: size each partition for GROWTH x ITS OWN
        key count (``incoming`` adds keys about to land) and rebuild the
        WHOLE set from the frontier table — membership truth, so the
        rebuild can never lose a key. ``self.spec`` keeps the grown PEAK for
        partitions that appear later. Per-partition sizing, not a uniform
        peak-sized spec: a hot domain skews key counts 10-100x, and a
        uniform spec would cost peak-sized blobs × P driver/broadcast bytes
        (measured 540 MB vs ~70 MB at the 10^7-row skewed leg)."""
        incoming = incoming or {}
        caps = {p: _cap(s) for p, s in stats.items()}
        for p, n in incoming.items():
            caps[p] = caps.get(p, 0.0) + n
        grown = type(self.spec).for_capacity
        self.spec = grown(int(math.ceil(max(caps.values()) * GROWTH)))
        specs = {p: grown(int(math.ceil(c * GROWTH))) for p, c in caps.items()}
        self._rebuild(self._frontier_epoch(), specs)

    def fill_stats(self) -> dict[int, dict]:
        """Per-partition saturation: {p: {n_items, m_bits, k_hashes,
        fill_ratio, est_keys, est_fpp}} — in-process for driver-held
        filters (no Spark job), one distributed pass otherwise."""
        if self.held is not None:
            return {p: f.stats() for p, f in self.held.items()}
        rows = table_fill_stats(self.catalog.read(URL_SEEN_TABLE)).collect()
        return {r["p"]: {k: v for k, v in r.asDict().items() if k != "p"} for r in rows}
