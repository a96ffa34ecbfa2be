"""Seeded workload inputs and their cached oracles.

Every generator is a pure function of (workload, seed). It writes the
tables the engine reads (site graph, site links, seed rows) as parquet,
plus the oracle the run is checked against, into a cache directory keyed
by workload, seed, size (always 1) and a digest of this file. Generation
and the oracle run before the timed region and before set-up starts.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from review_crawler_spark import reference_sim
from review_crawler_spark.sources.sitegen import (
    PRI_SEARCH_BASE,
    Page,
    build_site,
    search_url,
    seeds,
)

JOURNAL_HOSTS = ("www.mdpi.com", "journals.plos.org", "elifesciences.org")

# crawl_drain: search pages per host (MDPI-skewed), the per-host budget and
# the compaction cadence; it runs the deletable cuckoo seen-filter so its
# post-crawl expiries exercise the filter delete
DRAIN_PAGES = (36, 10, 10)
DRAIN_BUDGET = 400
DRAIN_COMPACT_EVERY = 2

# discovery_burst: hub pages per host, new articles per hub, fig pages per
# article, per-host budget
BURST_HUBS = (12, 4, 4)
BURST_ARTICLES_PER_HUB = 300
BURST_FIGS = 3
BURST_BUDGET = 6000
BURST_SEQ_STRIDE = 1000


# Table layout for a 4-core session: one bucket (and one seen-filter shard)
# per core.
ENGINE_LAYOUT = {"num_bloom_shards": 4, "seen_buckets": 4, "frontier_buckets": 4}


@dataclass
class Inputs:
    workload: str
    seed: int
    path: Path
    meta: dict

    @property
    def graph(self) -> str:
        return str(self.path / "graph.parquet")

    @property
    def links(self) -> str:
        return str(self.path / "links.parquet")

    @property
    def seeds(self) -> str:
        return str(self.path / "seeds.parquet")

    def engine_kwargs(self) -> dict:
        kw = dict(self.meta["engine"])
        kw["robots_rules"] = {
            h: (tuple(prefixes), budget)
            for h, (prefixes, budget) in kw["robots_rules"].items()
        }
        return kw

    def oracle_order(self) -> list[str]:
        return pq.read_table(self.path / "oracle_order.parquet")["url"].to_pylist()

    def oracle_seen(self) -> set[str]:
        return set(pq.read_table(self.path / "oracle_seen.parquet")["url"].to_pylist())

    def table(self, name: str) -> pa.Table:
        return pq.read_table(self.path / f"{name}.parquet")


def _journal_rules(budget: int) -> dict:
    # /private is disallowed everywhere; eLife's crawl-delay halves its budget
    return {
        "www.mdpi.com": [["/private"], None],
        "journals.plos.org": [["/private"], None],
        "elifesciences.org": [["/private"], budget // 2],
    }


def _write_site(out: Path, site: dict[str, Page]) -> None:
    pages = list(site.values())
    pq.write_table(
        pa.table({
            "url": [p.url for p in pages],
            "kind": [p.kind for p in pages],
            "status": pa.array([p.status for p in pages], pa.int32()),
        }),
        out / "graph.parquet",
    )
    src, dst, idx, pri = [], [], [], []
    for p in pages:
        for u, i, r in p.out_links:
            src.append(p.url)
            dst.append(u)
            idx.append(i)
            pri.append(r)
    pq.write_table(
        pa.table({
            "page_url": src, "link_url": dst,
            "link_idx": pa.array(idx, pa.int64()),
            "link_pri": pa.array(pri, pa.int64()),
        }),
        out / "links.parquet",
    )


def _write_seeds(out: Path, rows: list[tuple[str, int, int]]) -> None:
    pq.write_table(
        pa.table({
            "url": [r[0] for r in rows],
            "seq": pa.array([r[1] for r in rows], pa.int64()),
            "priority": pa.array([r[2] for r in rows], pa.int64()),
        }),
        out / "seeds.parquet",
    )


def _write_oracle(out: Path, sim: reference_sim.SimResult) -> dict:
    pq.write_table(pa.table({"url": sim.fetch_order}), out / "oracle_order.parquet")
    pq.write_table(pa.table({"url": sorted(sim.url_seen)}), out / "oracle_seen.parquet")
    return {"oracle_waves": sim.waves, "oracle_fetches": len(sim.fetch_order),
            "oracle_seen": len(sim.url_seen)}


# ---------------------------------------------------------------- crawl_drain
def _gen_crawl_drain(out: Path, seed: int) -> dict:
    """The sitegen journal web: three hosts with MDPI skew, robots-disallowed
    links, 403 retries. The seed permutes the host sequence numbers (which
    move article priorities) and jitters the page counts."""
    rng = random.Random(seed)
    # host sequence numbers start at 1 so that no two pages share a seq
    # (a seed's seq of 0 would equal its first child's), which keeps the
    # crawl-order contract free of ties
    hseqs = [1, 2, 3]
    rng.shuffle(hseqs)
    jitter = (rng.randint(-2, 2), rng.randint(-1, 1), rng.randint(-1, 1))
    hosts = tuple(
        (JOURNAL_HOSTS[i], hseqs[i], DRAIN_PAGES[i] + jitter[i])
        for i in range(3)
    )
    budget = DRAIN_BUDGET
    rules = _journal_rules(budget)
    site = build_site(hosts)
    _write_site(out, site)
    _write_seeds(out, seeds(hosts))
    sim = reference_sim.simulate(
        site, hosts=hosts, budget=budget,
        rules={h: (tuple(p), b) for h, (p, b) in rules.items()},
    )
    return {
        "engine": {"budget": budget, "robots_rules": rules,
                   "seen_filter": "cuckoo", "compact_every": DRAIN_COMPACT_EVERY,
                   **ENGINE_LAYOUT},
        **_write_oracle(out, sim),
    }


# ------------------------------------------------------------ discovery_burst
def _messy(rng: random.Random, host: str, path: str, query: list[str]) -> str:
    """One rendering of a canonical URL with case, query-order and fragment
    noise that canonicalization must undo."""
    h = host.upper() if rng.random() < 0.3 else host
    scheme = "HTTPS" if rng.random() < 0.1 else "https"
    q = list(query)
    if len(q) > 1 and rng.random() < 0.5:
        q.reverse()
    url = f"{scheme}://{h}{path}" + ("?" + "&".join(q) if q else "")
    if rng.random() < 0.3:
        url += f"#sec{rng.randint(1, 9)}"
    return url


def _gen_discovery_burst(out: Path, seed: int) -> dict:
    """The journal topology made wide: every hub page fans out to hundreds
    of messy article links (about 20 % cross-hub duplicates, a robots-
    disallowed share), and every article links to fresh figure pages plus
    one related article that an earlier wave usually admitted already."""
    rng = random.Random(seed)
    budget = BURST_BUDGET
    rules = _journal_rules(budget)
    site: dict[str, Page] = {}
    per_hub = BURST_ARTICLES_PER_HUB
    for hseq, host in enumerate(JOURNAL_HOSTS):
        n_hubs = BURST_HUBS[hseq]
        n_art = n_hubs * per_hub

        def art_path(i: int) -> tuple[str, list[str]]:
            return f"/article/{i}", (["lang=en", "v=2"] if i % 4 == 1 else [])

        def art_canon(i: int) -> str:
            path, q = art_path(i)
            return f"https://{host}{path}" + ("?" + "&".join(q) if q else "")

        def art_link(i: int) -> str:
            return _messy(rng, host, *art_path(i))

        def art_pri(i: int) -> int:
            return 100 + (i * 7 + hseq + seed) % 25

        for q in range(n_hubs):
            links: list[tuple[str, int, int]] = []
            if q == 0:
                for p in range(1, n_hubs):
                    links.append((search_url(host, p), 0, PRI_SEARCH_BASE - p))
            body = [(art_link(i), art_pri(i))
                    for i in range(q * per_hub, (q + 1) * per_hub)]
            body += [(art_link(i), art_pri(i))
                     for i in (rng.randrange(n_art) for _ in range(per_hub // 5))]
            for k in range(per_hub // 20):
                body.append((_messy(rng, host, f"/private/{q}/{k}", []), 1))
            rng.shuffle(body)
            links += [(u, 0, p) for u, p in body]
            links = [(u, idx, p) for idx, (u, _, p) in enumerate(links)]
            url = search_url(host, q)
            site[url] = Page(url=url, host=host, kind="search", page_no=q,
                             out_links=links)
        for i in range(n_art):
            url = art_canon(i)
            figs = [(f"https://{host}/article/{i}/fig{f}.png", f - 1, 10)
                    for f in range(1, BURST_FIGS + 1)]
            related = art_link(rng.randrange(n_art))
            out_links = figs + [(related, BURST_FIGS, art_pri(i) - 50)]
            status = 403 if (i * 31 + seed) % 61 == 7 else 200
            site[url] = Page(url=url, host=host, kind="article",
                             out_links=out_links, status=status)
            for fu, _, _ in figs:
                site[fu] = Page(url=fu, host=host, kind="image")
    # seed seq = host sequence number, starting at 1 (see _gen_crawl_drain)
    hosts = tuple((h, i + 1, BURST_HUBS[i]) for i, h in enumerate(JOURNAL_HOSTS))
    _write_site(out, site)
    _write_seeds(out, seeds(hosts))
    sim = reference_sim.simulate(
        site, hosts=hosts, budget=budget, seq_stride=BURST_SEQ_STRIDE,
        rules={h: (tuple(p), b) for h, (p, b) in rules.items()},
    )
    return {
        "engine": {"budget": budget, "robots_rules": rules,
                   "seq_stride": BURST_SEQ_STRIDE, **ENGINE_LAYOUT},
        **_write_oracle(out, sim),
    }


GENERATORS = {
    "crawl_drain": _gen_crawl_drain,
    "discovery_burst": _gen_discovery_burst,
}


def load_inputs(cache: Path, workload: str, seed: int) -> Inputs:
    """Return the cached inputs for (workload, seed), generating them
    and their oracle on a miss. The directory is published by rename, so a
    killed generation never leaves a half-written cache entry."""
    # the key includes a digest of this generator so an edited generator
    # never reads a stale entry
    digest = hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:10]
    path = cache / f"{workload}-size1-seed{seed}-{digest}"
    if not (path / "meta.json").exists():
        tmp = cache / f".tmp-{path.name}-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        meta = GENERATORS[workload](tmp, seed)
        (tmp / "meta.json").write_text(json.dumps(meta))
        try:
            os.rename(tmp, path)
        except OSError:  # a concurrent run published the same entry first
            shutil.rmtree(tmp, ignore_errors=True)
    return Inputs(workload, seed, path,
                  json.loads((path / "meta.json").read_text()))
