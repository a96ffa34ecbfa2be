"""Turn a finished run's operation log and spans into the metrics JSON."""

from __future__ import annotations

import statistics
import sys

import spans


def _m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def waves(run) -> list[dict]:
    """Operations that were a ``run_wave`` call that did work."""
    return [o for o in run.ops if o["kind"] == "wave" and o["ok"] and o["result"]]


def wave_walls(run) -> list[float]:
    """Wave-latency samples: every wave that did work, including the first
    wave a resumed engine commits inside its resume operation."""
    return [o["wall"] for o in waves(run)] + [
        o["wave_wall"] for o in run.ops if "wave_wall" in o and o["ok"]]


def fetched_per_s(run) -> float:
    """Status-200 fetches over the wall of the crawl calls (waves and the
    resume operation); the post-crawl expire and enqueue calls fetch
    nothing and stay out of the denominator."""
    crawl = [o for o in run.ops if o["kind"] in ("wave", "resume")]
    fetched = sum(o["result"].fetched for o in crawl if o["ok"] and o["result"])
    return _ratio(fetched, sum(o["wall"] for o in crawl))


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, n). With ten or fewer samples no percentile has ten
    beyond it, and the maximum (percentile 100) is reported."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def end_to_end(run, session_s: float, rss) -> dict:
    walls = wave_walls(run)
    tail_s, _, _ = tail(walls)
    store_bytes, _ = spans.dir_usage(run.store_dir) if run.store_dir else (0, 0)
    return {
        "urls_fetched_per_s": _m(fetched_per_s(run), "1/s"),
        "wave_s_p50": _m(_median(walls), "s"),
        "wave_s_tail": _m(tail_s, "s"),
        "resume_s": _m(_median(o["wall"] for o in run.ops if o["kind"] == "resume"), "s"),
        "enqueue_s_p50": _m(_median(o["wall"] for o in run.ops if o["kind"] == "enqueue"), "s"),
        "expire_s_p50": _m(_median(o["wall"] for o in run.ops if o["kind"] == "expire"), "s"),
        "store_bytes_per_url": _m(_ratio(store_bytes, run.live_seen), "B"),
        "peak_rss_mb": _m(max((rss.peak_mb(o["start"], o["start"] + o["wall"])
                               for o in run.ops), default=0.0), "MiB"),
        "setup_s": _m(session_s + _median(run.setup_reps), "s"),
    }


def per_layer(run, session_s: float) -> dict:
    tracer = run.tracer
    ws = waves(run)
    engine_ops = [o for o in run.ops if o["ok"]]
    by_op: dict[int, list[dict]] = {}
    for s in tracer.spans:
        if s["name"].startswith("checkpoint.") and s.get("op") is not None:
            by_op.setdefault(s["op"], []).append(s)

    def phase(label: str) -> float:
        return _median(o["marks"].get(label, 0.0) for o in ws if "marks" in o)

    def store_self(o: dict) -> float:
        return spans.self_time(tracer.spans[o["span"]], by_op.get(o["span"], []))

    out = {
        "scheduler.jobs_per_wave": _m(_median(o["jobs"] for o in ws), "count"),
        "scheduler.queued_s": _m(phase("queued"), "s"),
        "scheduler.count_admitted_s": _m(phase("count_admitted"), "s"),
        "scheduler.counts_rest_s": _m(phase("counts_rest"), "s"),
        "scheduler.writes_s": _m(phase("writes"), "s"),
        "scheduler.readback_s": _m(phase("readback"), "s"),
        "scheduler.self_s": _m(_median(store_self(o) for o in ws), "s"),
        "scheduler.scheduled_per_wave": _m(_mean(o["result"].scheduled for o in ws), "count"),
        "scheduler.fetched_per_wave": _m(_mean(o["result"].fetched for o in ws), "count"),
        "scheduler.admitted_per_wave": _m(_mean(o["result"].new_urls for o in ws), "count"),
        "scheduler.errors_per_wave": _m(_mean(o["result"].errors for o in ws), "count"),
    }

    adm = [r for r in run.replays if "urls.canon" in r]

    def total(key: str) -> float:
        return sum(r.get(key, 0) for r in adm)

    out.update({
        "urls.canon_s": _m(_mean(r["urls.canon"] for r in adm), "s"),
        "urls.canon_rows_per_s": _m(_ratio(total("canon_rows"), total("urls.canon")), "1/s"),
        "robots.filter_s": _m(_mean(r["robots.filter"] for r in adm), "s"),
        "robots.drop_frac": _m(1 - _ratio(total("allowed"), total("canon_rows")) if adm else 0.0, "ratio"),
        "seen.probe_s": _m(_mean(r["seen.probe"] for r in adm), "s"),
        "seen.dup_frac": _m(1 - _ratio(total("probed"), total("allowed")) if adm else 0.0, "ratio"),
        "seen.maybe_seen_frac": _m(_ratio(total("maybe_seen"), total("probed")), "ratio"),
        "seen.fp_frac": _m(_ratio(total("false_pos"), total("maybe_seen")), "ratio"),
        "seen.confirm_s": _m(_mean(r["seen.confirm"] for r in adm), "s"),
        "seen.update_s": _m(_mean(r["seen.update"] for r in run.replays
                                  if r.get("seen.update")), "s"),
        "cuckoo.delete_s": _m(_mean(r["cuckoo.delete"] for r in run.replays
                                    if "cuckoo.delete" in r), "s"),
    })

    n_ops = len(engine_ops)
    calls = [s for s in tracer.spans if s["name"].startswith("checkpoint.")]
    for kind in ("append_bucketed", "append", "commit", "read_range", "read_lww", "gc"):
        mine = [s for s in calls if s["name"] == f"checkpoint.{kind}"]
        out[f"checkpoint.{kind}_s"] = _m(
            _ratio(sum(s["end"] - s["start"] for s in mine), n_ops), "s")
        out[f"checkpoint.{kind}_calls"] = _m(_ratio(len(mine), n_ops), "count")
    wave_writes = [s for o in ws for s in by_op.get(o["span"], []) if "bytes" in s]
    live = spans.live_partitions(run.store_dir) if run.store_dir else {}
    out.update({
        "checkpoint.bytes_written_per_wave": _m(
            _ratio(sum(s["bytes"] for s in wave_writes), len(ws)), "B"),
        "checkpoint.files_written_per_wave": _m(
            _ratio(sum(s["files"] for s in wave_writes), len(ws)), "count"),
        "checkpoint.partitions_live": _m(sum(live.values()), "count"),
        "session.start_s": _m(session_s, "s"),
        "trace.wave_s_p50": _m(_median(wave_walls(run)), "s"),
        "trace.urls_fetched_per_s": _m(fetched_per_s(run), "1/s"),
        "trace.bookkeeping_s_per_op": _m(_ratio(tracer.bookkeeping_s, n_ops), "s"),
        "trace.replay_s": _m(sum(s["end"] - s["start"] for s in tracer.spans
                                 if s["name"] == "replay"), "s"),
    })
    return out


def print_summary(run, metrics: dict) -> None:
    """Human-readable lines before the JSON: the tail's percentile and
    sample count, and the operation counts."""
    _, pct, n = tail(wave_walls(run))
    kinds: dict[str, int] = {}
    for o in run.ops:
        kinds[o["kind"]] = kinds.get(o["kind"], 0) + 1
    print(f"wave_s_tail = p{pct:.1f} of {n} waves; operations {kinds}; "
          f"set-ups {[round(s, 3) for s in run.setup_reps]}")
    print("operations: " + " ".join(
        f"{o['kind']}@{o['wave']}={o['wall']:.2f}s" for o in run.ops))
    for name, m in metrics.items():
        print(f"  {name:36s} {m['value']:.6g} {m['unit']}")
    sys.stdout.flush()
