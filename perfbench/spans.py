"""Spans for the traced run, recorded from outside the program.

Four sources feed one in-memory span list, written out when the run ends:

- the workload wraps every CrawlEngine public call in an op span;
- ``TracedStore`` (a SnapshotStore subclass handed to the engine as
  ``store=``) records every public store call with the bytes and files it
  wrote;
- the engine's ``RCS_TRACE_WAVES`` marks become phase spans of the wave;
- ``replay_admission`` re-runs a wave's discovery batch through the lazy
  layers' public functions, materializing at each layer boundary.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from review_crawler_spark.crawler import bloom, cuckoo
from review_crawler_spark.crawler.checkpoint import SnapshotStore
from review_crawler_spark.crawler.robots import filter_allowed
from review_crawler_spark.functions.urls import with_url_identity

COMPACTED_TABLES = ("frontier_log", "url_seen", "bloom_log", "seen_tombstones")


def dir_usage(path: Path) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            try:
                size += os.stat(os.path.join(root, n)).st_size
            except OSError:
                continue
            files += 1
    return size, files


def live_partitions(base: Path) -> dict[str, int]:
    return {
        t: len(list((base / t).glob("w=*"))) if (base / t).exists() else 0
        for t in COMPACTED_TABLES
    }


class Tracer:
    """Thread-safe span list. ``op`` is the id of the engine call running
    now; store calls made from the engine's writer threads attach to it."""

    def __init__(self):
        self.spans: list[dict] = []
        self.op: int | None = None
        self.wave: int | None = None
        self.bookkeeping_s = 0.0
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: int | None,
            wave: int | None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append(dict(id=sid, name=name, start=start, end=end,
                                   parent=parent, wave=wave, **attrs))
            return sid

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of it its children cover. Children
    may overlap (the engine's commit writes run on a thread pool), so the
    covered part is the union of their intervals, clipped to the span."""
    clipped = [
        (max(c["start"], span["start"]), min(c["end"], span["end"]))
        for c in children
    ]
    return span["end"] - span["start"] - union_s([c for c in clipped if c[1] > c[0]])


class TracedStore(SnapshotStore):
    """SnapshotStore that records each public call as a span, with the bytes
    and files each write left on disk. Behaviour is the parent's."""

    def __init__(self, base, tracer: Tracer):
        super().__init__(base)
        self.tracer = tracer

    def _call(self, kind: str, table: str, fn, written: Path | None = None):
        start = time.perf_counter()
        try:
            return fn()
        finally:
            end = time.perf_counter()
            attrs = {"table": table, "op": self.tracer.op}
            if written is not None:
                attrs["bytes"], attrs["files"] = dir_usage(written)
            self.tracer.add(f"checkpoint.{kind}", start, end, self.tracer.op,
                            self.tracer.wave, **attrs)
            self.tracer.bookkeeping_s += time.perf_counter() - end

    def commit_wave(self, wave, tables, extra=None):
        return self._call(
            "commit", "_manifests",
            lambda: SnapshotStore.commit_wave(self, wave, tables, extra),
            self.base / "_manifests" / f"manifest-{wave}.json",
        )

    def append_delta(self, name, wave, df):
        return self._call(
            "append", name, lambda: SnapshotStore.append_delta(self, name, wave, df),
            self.base / name / f"w={wave}",
        )

    def append_delta_bucketed(self, name, wave, df, bucket_cols, num_buckets=16):
        return self._call(
            "append_bucketed", name,
            lambda: SnapshotStore.append_delta_bucketed(
                self, name, wave, df, bucket_cols, num_buckets),
            self.base / name / f"w={wave}",
        )

    def read_bucketed_deltas_range(self, spark, name, from_wave, up_to_wave,
                                   keep_wave=False):
        return self._call(
            "read_range", name,
            lambda: SnapshotStore.read_bucketed_deltas_range(
                self, spark, name, from_wave, up_to_wave, keep_wave),
        )

    def read_deltas_lww(self, spark, name, up_to_wave, key):
        return self._call(
            "read_lww", name,
            lambda: SnapshotStore.read_deltas_lww(self, spark, name, up_to_wave, key),
        )

    def drop_bucketed_partitions_below(self, spark, name, wave):
        return self._call(
            "gc", name,
            lambda: SnapshotStore.drop_bucketed_partitions_below(self, spark, name, wave),
        )

    def drop_delta_partitions_below(self, name, wave):
        return self._call(
            "gc", name,
            lambda: SnapshotStore.drop_delta_partitions_below(self, name, wave),
        )


_MARK_RX = re.compile(r"(\w+)=([0-9.]+)s")


def parse_wave_marks(text: str) -> list[tuple[str, float]]:
    """``[wave N] queued=0.32s count_admitted=2.33s …`` → [(label, secs)]."""
    for line in text.splitlines():
        if line.startswith("[wave "):
            return [(k, float(v)) for k, v in _MARK_RX.findall(line)]
    return []


def add_phase_spans(tracer: Tracer, op_sid: int, marks: list[tuple[str, float]]) -> None:
    """Turn the wave's mark deltas into consecutive phase spans and re-parent
    each store span of the wave onto the phase it started in."""
    op = tracer.spans[op_sid]
    t = op["start"]
    phases = []
    for label, dt in marks:
        phases.append(tracer.add(f"scheduler.{label}", t, t + dt, op_sid, op["wave"]))
        t += dt
    for child in tracer.children(op_sid):
        if not child["name"].startswith("checkpoint."):
            continue
        for pid in phases:
            p = tracer.spans[pid]
            if p["start"] <= child["start"] < p["end"]:
                child["parent"] = pid
                break


def _materialize(df: DataFrame) -> tuple[DataFrame, int, float]:
    """Cache ``df`` and compute it; return it, its row count and the
    seconds the computation took."""
    start = time.perf_counter()
    out = df.cache()
    n = out.count()
    return out, n, time.perf_counter() - start


def _release(*frames: DataFrame) -> None:
    for df in frames:
        df.unpersist()


def replay_admission(tracer: Tracer, engine, seen_mod, fetched: DataFrame,
                     site_links: DataFrame, pre_seen: DataFrame,
                     pre_shards: DataFrame, wave: int) -> dict:
    """Re-run one wave's admission through the layers' public functions
    against the pre-wave seen state, one materialized layer at a time.

    Returns the rows in and out of each layer and the seconds each took;
    ``admitted`` must equal the engine's own count for the wave."""
    parent = tracer.add("replay", time.perf_counter(), 0.0, None, wave)
    stride = engine.seq_stride
    links = fetched.join(
        site_links, fetched.canonical_url == site_links.page_url
    ).select(
        F.col("link_url").alias("url"),
        F.col("link_pri").cast("long").alias("priority"),
        (F.col("depth") + 1).alias("depth"),
        (F.col("seq") * stride + F.col("link_idx")).alias("seq"),
    )
    links, _, _ = _materialize(links)
    out = {}

    def layer(name: str, df: DataFrame) -> tuple[DataFrame, int]:
        start = time.perf_counter()
        m, n, secs = _materialize(df)
        tracer.add(name, start, start + secs, parent, wave, rows=n)
        out[name] = secs
        return m, n

    ident, out["canon_rows"] = layer("urls.canon", with_url_identity(links))
    allowed, out["allowed"] = layer("robots.filter", filter_allowed(ident, engine.disallow))
    probed, out["probed"] = layer("seen.probe", seen_mod.dedup_and_probe(
        allowed.select("url", "canonical_url", "url_hash", "host",
                       "priority", "depth", "seq"),
        pre_shards, engine.num_bloom_shards, seen_mod.SHARD_BITS_DEFAULT,
    ))
    out["maybe_seen"] = probed.filter(F.col("maybe_seen")).count()
    suspect = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    confirmed, out["false_pos"] = layer("seen.confirm", suspect.join(
        pre_seen.select("url_hash", "canonical_url"),
        ["url_hash", "canonical_url"], "left_anti",
    ))
    fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    admitted = fresh.unionByName(confirmed)
    out["admitted"] = out["probed"] - out["maybe_seen"] + out["false_pos"]
    out["seen.update"] = 0.0
    if out["admitted"]:
        delta = admitted.select(
            "url_hash",
            bloom.shard_of(F.col("url_hash"), engine.num_bloom_shards).alias("partition_id"),
        )
        updated, _ = layer("seen.update", update_touched(seen_mod, engine, pre_shards, delta))
        _release(updated)
    _release(links, ident, allowed, probed, confirmed)
    tracer.spans[parent]["end"] = time.perf_counter()
    return out


def update_touched(seen_mod, engine, shards: DataFrame, delta: DataFrame) -> DataFrame:
    """The engine's touched-shard update: merge ``delta`` hashes into only
    the shards they land in."""
    touched = delta.select(F.col("partition_id").alias("shard_id")).distinct()
    return seen_mod.update_shards(
        shards.join(F.broadcast(touched), "shard_id", "left_semi"),
        delta, engine.num_bloom_shards, seen_mod.SHARD_BITS_DEFAULT,
    )


def delete_touched(engine, shards: DataFrame, victims: DataFrame) -> DataFrame:
    touched = victims.select(F.col("partition_id").alias("shard_id")).distinct()
    return cuckoo.delete_keys(
        shards.join(F.broadcast(touched), "shard_id", "left_semi"),
        victims, engine.num_bloom_shards, cuckoo.SHARD_BITS_DEFAULT,
    )


def replay_maintenance(tracer: Tracer, name: str, frame: DataFrame, wave: int) -> float:
    """Materialize one filter-maintenance result (update or delete) and
    return the seconds it took."""
    start = time.perf_counter()
    m, n, secs = _materialize(frame)
    tracer.add(name, start, start + secs, None, wave, rows=n)
    _release(m)
    return secs
