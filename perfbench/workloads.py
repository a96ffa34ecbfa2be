"""The engine workloads and their correctness checks.

Each workload drives the real ``CrawlEngine`` through its public calls
(``seed``, ``run_wave``, ``enqueue``, ``expire_seen``, ``resume``). Every
call is one operation: it fails if it raises or if its check fails, and the
run records its wall time. The crawl wall is the sum of operation walls,
so set-up, checks and trace replays are never inside it.
"""

from __future__ import annotations

import io
import shutil
import sys
import time
import traceback
from contextlib import redirect_stdout
from pathlib import Path

from pyspark.sql import functions as F

from review_crawler_spark.crawler import bloom, cuckoo
from review_crawler_spark.crawler.checkpoint import SnapshotStore
from review_crawler_spark.crawler.scheduler import CrawlEngine

import spans as tr
from probes import JobCounter
from sites import Inputs

SETUP_REPS = 2
RESUME_AFTER_WAVE = 2  # crawl workloads switch to a resumed engine here
PROBES_MIN = 3  # minimum expire + enqueue rounds after the drain
PROBE_URLS = 200  # URLs each round expires and enqueues again


class Run:
    """One benchmark run: the session, its inputs, the operation log and,
    in a traced run, the tracer."""

    def __init__(self, spark, inputs: Inputs, work: Path, seconds: float,
                 tracer: tr.Tracer | None):
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.seconds = seconds
        self.tracer = tracer
        self.jobs = JobCounter(spark) if tracer else None
        self.seen_mod = (cuckoo if inputs.meta["engine"].get("seen_filter") == "cuckoo"
                         else bloom)
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.setup_reps: list[float] = []
        self.replays: list[dict] = []
        self.store_dir: Path | None = None
        self.live_seen = 0
        self._stores = 0

    # ------------------------------------------------------------ set-up
    def new_store(self) -> SnapshotStore:
        self._stores += 1
        path = self.work / f"store{self._stores}"
        if self.tracer:
            return tr.TracedStore(path, self.tracer)
        return SnapshotStore(path)

    def load(self):
        read = self.spark.read.parquet
        return read(self.inputs.graph), read(self.inputs.links)

    def engine(self, store: SnapshotStore, graph, links) -> CrawlEngine:
        return CrawlEngine(self.spark, graph, links, store,
                           **self.inputs.engine_kwargs())

    def setup(self) -> CrawlEngine:
        """Set up SETUP_REPS times (input load, CrawlEngine, seed) and keep
        the last engine."""
        eng = None
        for _ in range(SETUP_REPS):
            if eng is not None:
                shutil.rmtree(eng.store.base, ignore_errors=True)
            start = time.perf_counter()
            graph, links = self.load()
            eng = self.engine(self.new_store(), graph, links)
            eng.seed(self.spark.read.parquet(self.inputs.seeds))
            self.setup_reps.append(time.perf_counter() - start)
        self.graph, self.links = graph, links
        return eng

    # -------------------------------------------------------- operations
    def op(self, kind: str, engine: CrawlEngine, fn, check=None):
        """Run one engine call as an operation. ``check(result)`` returns an
        error message or None. Returns (result, ok)."""
        wave = engine.next_wave
        sid = None
        if self.tracer:
            j0 = self.jobs.last_id()
            sid = self.tracer.add(kind, time.perf_counter(), 0.0, None, wave)
            self.tracer.op, self.tracer.wave = sid, wave
        out = io.StringIO()
        start = time.perf_counter()
        result, err = None, None
        try:
            with redirect_stdout(out):
                result = fn()
        except Exception:  # noqa: BLE001 — a failed call is a failed operation
            err = traceback.format_exc()
        wall = time.perf_counter() - start
        rec = {"kind": kind, "wave": wave, "start": start, "wall": wall,
               "result": result}
        if self.tracer:
            self.tracer.spans[sid]["end"] = start + wall
            self.tracer.op = None
            rec["span"] = sid
            rec["jobs"] = self.jobs.last_id() - j0
            marks = tr.parse_wave_marks(out.getvalue())
            if marks:
                tr.add_phase_spans(self.tracer, sid, marks)
                rec["marks"] = dict(marks)
        if err is None and check is not None:
            err = check(result)
        rec["ok"] = err is None
        if err is not None:
            self.failures.append(f"{kind} (wave {wave}): {err}")
            print(f"perfbench: {kind} at wave {wave} failed: {err}", file=sys.stderr)
        self.ops.append(rec)
        return result, err is None

    def timed_out(self, t0: float) -> bool:
        return time.perf_counter() - t0 >= self.seconds

    # -------------------------------------------------------------- trace
    def replay_wave(self, engine: CrawlEngine, wave: int, pre_seen, stats) -> None:
        """Traced runs only: replay the wave's admission against the
        ``pre_seen`` url_seen view and the filter shards the wave started
        from, and check the replay admitted what the engine admitted."""
        if not self.tracer or stats is None:
            return
        # the shards are re-read from the log committed before the wave
        # (untraced): the wave's partition GC may have deleted files the
        # engine's pre-wave view listed, and the surviving compaction
        # baseline holds the same content
        pre_shards = SnapshotStore.read_deltas_lww(
            engine.store, self.spark, "bloom_log", wave, "shard_id")
        fetched = engine.crawl_order().filter(F.col("wave") == wave)
        out = tr.replay_admission(self.tracer, engine, self.seen_mod, fetched,
                                  self.links, pre_seen, pre_shards, wave)
        if out["admitted"] != stats.new_urls:
            self.failures.append(
                f"replay of wave {wave} admitted {out['admitted']}, "
                f"engine admitted {stats.new_urls}")
        self.replays.append(out)

    def finish(self, engine: CrawlEngine) -> None:
        self.store_dir = engine.store.base
        self.live_seen = engine.url_seen.count()


# ------------------------------------------------------------------ crawls
def run_crawl(run: Run) -> None:
    """crawl_drain and discovery_burst: crawl until the frontier drains,
    switching to a freshly resumed engine after RESUME_AFTER_WAVE, then
    probe expiry and enqueue until the window is full. The crawl order and
    URL-seen set must equal the reference simulator's."""
    eng = run.setup()
    t0 = time.perf_counter()
    waves = 0
    while True:
        if waves == RESUME_AFTER_WAVE:
            eng = _resume_op(run, eng)
            if eng is None:
                return
            waves += 1
            continue
        pre_seen, wave = eng.url_seen, eng.next_wave
        stats, ok = run.op("wave", eng, eng.run_wave)
        if not ok:
            return
        if stats is None:
            break
        run.replay_wave(eng, wave, pre_seen, stats)
        waves += 1
    fetched = list(dict.fromkeys(run.inputs.oracle_order()))
    probes = 0
    while probes < PROBES_MIN or not run.timed_out(t0):
        urls = [fetched[(probes * PROBE_URLS + i) % len(fetched)]
                for i in range(PROBE_URLS)]
        if not _probe(run, eng, urls):
            return
        probes += 1
    _check_oracle(run, eng)
    run.finish(eng)


def _probe(run: Run, eng: CrawlEngine, urls: list[str]) -> bool:
    """A recrawl round after the drain: expire ``urls`` (fetched, so all
    live in url_seen) and enqueue them again. Both calls take their write
    path, and the seen set ends where the crawl left it; no wave runs
    after, so the crawl order is untouched."""
    want = len(urls)
    victims = run.spark.createDataFrame([(u,) for u in urls], "canonical_url string")
    rows = run.spark.createDataFrame([(u, i, 0) for i, u in enumerate(urls)],
                                     "url string, seq long, priority long")
    pre_shards, wave = eng.bloom_shards, eng.next_wave
    _, ok = run.op("expire", eng, lambda: eng.expire_seen(victims),
                   check=lambda n: None if n == want else f"expired {n} of {want}")
    if not ok:
        return False
    if run.tracer and run.seen_mod is cuckoo:
        run.replays.append({"cuckoo.delete": tr.replay_maintenance(
            run.tracer, "cuckoo.delete",
            tr.delete_touched(eng, pre_shards, _keys(eng, victims)), wave)})
    pre_shards, wave = eng.bloom_shards, eng.next_wave
    _, ok = run.op("enqueue", eng, lambda: eng.enqueue(rows),
                   check=lambda n: None if n == want else f"enqueued {n} of {want}")
    if ok and run.tracer:
        run.replays.append({"seen.update": tr.replay_maintenance(
            run.tracer, "seen.update",
            tr.update_touched(run.seen_mod, eng, pre_shards, _keys(eng, victims)),
            wave)})
    return ok


def _resume_op(run: Run, old: CrawlEngine) -> CrawlEngine | None:
    """A fresh engine on the same store resumes and commits its first wave;
    the op's wall is resume_s. The traced run replays that wave against the
    state the old engine left, which is the state resume() restores."""
    pre_seen, wave = old.url_seen, old.next_wave
    box = {}

    def resume_and_wave():
        eng = run.engine(old.store, run.graph, run.links)
        if not eng.resume():
            raise RuntimeError("resume found no committed snapshot")
        box["eng"] = eng
        return timed_wave(eng, box)

    stats, ok = run.op("resume", old, resume_and_wave,
                       check=lambda s: None if s is not None else "resumed crawl had no wave")
    if not ok:
        return None
    run.ops[-1]["wave_wall"] = box["wave_s"]
    eng = box["eng"]
    run.replay_wave(eng, wave, pre_seen, stats)
    return eng


def timed_wave(eng: CrawlEngine, box: dict):
    """``run_wave`` inside a resume operation, its own wall kept in
    ``box["wave_s"]`` so it also counts as a wave-latency sample."""
    start = time.perf_counter()
    try:
        return eng.run_wave()
    finally:
        box["wave_s"] = time.perf_counter() - start


def _check_oracle(run: Run, eng: CrawlEngine) -> None:
    order = [r[0] for r in eng.crawl_order().select("canonical_url").collect()]
    want = run.inputs.oracle_order()
    if order != want:
        first = next((i for i, (a, b) in enumerate(zip(order, want)) if a != b),
                     min(len(order), len(want)))
        run.failures.append(
            f"crawl order differs from the simulator at position {first} "
            f"({len(order)} fetched, simulator {len(want)})")
    seen = {r[0] for r in eng.url_seen_set().collect()}
    want_seen = run.inputs.oracle_seen()
    if seen != want_seen:
        run.failures.append(
            f"URL-seen set differs from the simulator: {len(seen - want_seen)} "
            f"extra, {len(want_seen - seen)} missing")


def _keys(eng: CrawlEngine, urls):
    """canonical_url → the (url_hash, partition_id) keys the seen filter
    is maintained by, computed the way the engine computes them."""
    from review_crawler_spark.functions.urls import url_hash_of

    hashed = urls.select("canonical_url",
                         url_hash_of(F.col("canonical_url")).alias("url_hash"))
    return hashed.withColumn(
        "partition_id", bloom.shard_of(F.col("url_hash"), eng.num_bloom_shards))


WORKLOADS = {
    "crawl_drain": run_crawl,
    "discovery_burst": run_crawl,
}
