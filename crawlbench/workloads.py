"""Workload definitions: seeded inputs, the untimed oracle and output checks.

Every workload is a crawl. Its inputs are a pure function of ``--seed``:
the seed picks the generator seed of ``sources.corpus`` (or of
``sources.loopback``). Generator seeds change the link graph, and with it
the number of BSP supersteps, which dominates crawl time. So each workload
fixes the superstep count (and, for ``crawl_small``, the superstep at which
the seen set crosses the bloom threshold) and takes the first generator seed
at or after ``seed * 7919`` whose graph has that shape. Different seeds then
crawl different graphs of the same size and depth.

The graph model below (:func:`model_crawl`) is the crawl's superstep
semantics over the link graph that the library's own page renderer emits:
first-wins by order key, anti-join against seen, and the per-host budget with
deferral. It yields the expected superstep count; the visited and seen sets
come from ``suckit_spark.oracle.crawl_oracle``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

#: Generator seeds tried per benchmark seed before giving up.
_SEED_SCAN = 200
#: Benchmark seed n scans from n * stride. The renderers use the seed
#: modulo the page count, so a stride sharing factors with page counts
#: would map every benchmark seed to the same graph.
_SEED_STRIDE = 7919

_HREF = re.compile(rb'href="([^"]+)"')

#: live-mode fetch partitions, i.e. parallel connections (at most nproc)
LIVE_JOBS = 4


@dataclass(frozen=True)
class Shape:
    """One workload's input shape and crawl settings."""

    name: str
    why: str
    live: bool = False
    hosts: int = 1
    pages_per_host: int = 0
    fanout: int = 3
    mega: int = 1
    body_kb: int = 0
    host_budget: int | None = None
    checkpoint: bool = False
    #: superstep count every seed's graph must have
    supersteps: int = 0
    #: superstep after which seen first reaches the bloom threshold
    #: (None = the crawl must stay below it)
    bloom_cross: int | None = None
    #: ``CrawlConfig.bloom_threshold`` (None = the library default)
    bloom_threshold: int | None = None
    #: supersteps of the untimed warm-up crawl: as many as the run budget
    #: allows, since the crawl keeps speeding up over its first runs
    warmup_supersteps: int = 1


WORKLOADS = {
    s.name: s for s in (
        Shape(
            name="crawl_small",
            why=("many cheap supersteps: barrier, job count, fetch-join "
                 "layout and candidate dedup dominate; the bloom "
                 "prefilter runs in the last superstep"),
            hosts=4, pages_per_host=120, fanout=32, mega=6,
            supersteps=5, bloom_threshold=1_400, bloom_cross=3,
            warmup_supersteps=4),
        Shape(
            name="crawl_live",
            why=("loopback HTTP crawl of 32 KiB pages with host budget and "
                 "checkpoint: live fetch, parse kernel, Arrow UDF boundary, "
                 "deferral and per-step commits; seen stays below the bloom "
                 "threshold"),
            live=True, pages_per_host=200, fanout=32, body_kb=32,
            host_budget=100, checkpoint=True, supersteps=4),
    )
}


# ---------------------------------------------------------------------------
# link graphs rendered by the library's own generators


def corpus_graph(shape: Shape, gen_seed: int) -> dict:
    """(url -> ordered link urls) for every page ``sources.corpus`` renders;
    link targets absent from the map are dead links (fetch errors)."""
    from suckit_spark.sources import corpus

    graph = {}
    for h in range(shape.hosts):
        n = shape.pages_per_host * (shape.mega if h == 0 else 1)
        base = f"http://{corpus.host_name(h, shape.hosts)}/"
        for j in range(n):
            # body_kb only pads text; links do not depend on it
            body = corpus.page_body(h, j, shape.hosts, n, shape.fanout,
                                    gen_seed, 0)
            graph[base + f"p{j}.html"] = [
                (m.decode() if m.startswith(b"http") else base + m.decode())
                for m in _HREF.findall(body)]
    return graph


def live_graph(shape: Shape, gen_seed: int, base: str = "") -> dict:
    from suckit_spark.sources.loopback import site_paths

    return {base + path: [base + "/" + m.decode()
                          for m in _HREF.findall(body)]
            for path, body in site_paths(shape.pages_per_host, shape.fanout,
                                         gen_seed).items()}


def _host(url: str) -> str:
    return url.split("/", 3)[2]


def model_crawl(graph: dict, origin: str, budget: int | None):
    """Superstep count, seen size after each superstep, and rows deferred
    by the budget, for the BSP crawl over ``graph`` (exact for the crawl's
    first-wins / anti-join / budget semantics on link-only pages)."""
    frontier = [(origin, ())]
    seen = {origin}
    seen_after = []
    n_deferred = 0
    while frontier:
        if budget is None:
            selected, deferred = frontier, []
        else:
            by_host: dict[str, list] = {}
            for row in frontier:
                by_host.setdefault(_host(row[0]), []).append(row)
            selected, deferred = [], []
            for rows in by_host.values():
                rows.sort(key=lambda r: r[1])
                selected += rows[:budget]
                deferred += rows[budget:]
        winners: dict[str, tuple] = {}
        for url, key in selected:
            for pos, link in enumerate(graph.get(url, ())):
                k = key + (pos,)
                if link not in winners or k < winners[link]:
                    winners[link] = k
        new = [(u, k) for u, k in winners.items() if u not in seen]
        seen.update(u for u, _ in new)
        seen_after.append(len(seen))
        n_deferred += len(deferred)
        frontier = new + deferred
    return len(seen_after), seen_after, n_deferred


def origin_of(shape: Shape, base: str = "") -> str:
    if shape.live:
        return f"{base}/p0.html"
    from suckit_spark.sources import corpus
    return corpus.page_url(0, 0, shape.hosts)


def pick_gen_seed(shape: Shape, seed: int, bloom_threshold: int) -> int:
    """First generator seed at or after ``seed * _SEED_STRIDE`` whose graph crawls
    in exactly ``shape.supersteps`` supersteps, crosses the bloom threshold
    where the shape says, and (with a budget) defers some rows."""
    base = "http://loopback" if shape.live else ""
    start = seed * _SEED_STRIDE
    for gen_seed in range(start, start + _SEED_SCAN):
        graph = (live_graph(shape, gen_seed, base) if shape.live
                 else corpus_graph(shape, gen_seed))
        steps, seen_after, n_deferred = model_crawl(
            graph, origin_of(shape, base), shape.host_budget)
        if steps != shape.supersteps or (
                shape.host_budget is not None and not n_deferred):
            continue
        cross = next((i for i, n in enumerate(seen_after)
                      if n >= bloom_threshold), None)
        if cross == shape.bloom_cross:
            return gen_seed
    raise SystemExit(f"{shape.name}: no generator seed in "
                     f"[{start}, {start + _SEED_SCAN}) has the workload's "
                     f"shape")


# ---------------------------------------------------------------------------
# oracle (runs in a child process while Spark starts)


def corpus_pages(shape: Shape, gen_seed: int) -> dict:
    """url -> pages row for ``crawl_oracle`` (the columns it reads)."""
    from suckit_spark.sources import corpus

    pages = {}
    for h in range(shape.hosts):
        n = shape.pages_per_host * (shape.mega if h == 0 else 1)
        for j in range(n):
            pages[corpus.page_url(h, j, shape.hosts)] = {
                "html": corpus.page_body(h, j, shape.hosts, n, shape.fanout,
                                         gen_seed, shape.body_kb),
                "content_type": "text/html", "content_disposition": None,
                "requires_auth": False, "auth_user": None,
                "auth_pass": None, "status": 200,
            }
    return pages


def live_pages(shape: Shape, gen_seed: int, base: str) -> dict:
    from suckit_spark.sources.loopback import site_paths

    return {base + path: {"html": body, "content_type": "text/html",
                          "status": 200}
            for path, body in site_paths(shape.pages_per_host, shape.fanout,
                                         gen_seed, shape.body_kb).items()}


def run_oracle(shape: Shape, gen_seed: int, base: str) -> dict:
    """Expected visited/seen sets."""
    from suckit_spark.oracle import crawl_oracle

    cfg = crawl_config(shape, base)
    pages = (live_pages(shape, gen_seed, base) if shape.live
             else corpus_pages(shape, gen_seed))
    res = crawl_oracle(cfg, pages)
    return {
        # (url, status) per visit; status "error" marks a dead link
        "visited": sorted([r[0], r[4]] for r in res.log),
        "seen": sorted(res.seen),
        "n_pages": len(pages),
    }


def crawl_config(shape: Shape, base: str = "", checkpoint_dir=None):
    """The crawl's ``CrawlConfig``: library defaults plus what the workload
    names (budget, checkpoint, bloom threshold, live mode)."""
    import os
    from suckit_spark.config import CrawlConfig

    kw = dict(origin=origin_of(shape, base), ext_depth=-1,
              continue_on_error=True, host_budget=shape.host_budget,
              checkpoint_dir=checkpoint_dir)
    if shape.bloom_threshold is not None:
        kw.update(bloom_threshold=shape.bloom_threshold)
    if shape.live:
        kw.update(live_fetch=True,
                  jobs=min(LIVE_JOBS, len(os.sched_getaffinity(0))))
    return CrawlConfig(**kw)


# ---------------------------------------------------------------------------
# output checks


def check(shape: Shape, expected: dict, supersteps: int, visited: list,
          seen: list, mirror_urls: list | None) -> list[str]:
    """Compare one crawl's output with the oracle; returns failures.
    ``visited`` holds one ``[url, status]`` pair per crawl-log row."""
    bad = []
    if sorted(visited) != expected["visited"]:
        bad.append(f"visited rows differ from the oracle ({len(visited)} vs "
                   f"{len(expected['visited'])})")
    if sorted(seen) != expected["seen"]:
        bad.append(f"seen set differs from the oracle ({len(seen)} vs "
                   f"{len(expected['seen'])})")
    if supersteps != shape.supersteps:
        bad.append(f"{supersteps} supersteps, expected {shape.supersteps}")
    if shape.live and (mirror_urls is None
                       or len(mirror_urls) != expected["n_pages"]
                       or set(mirror_urls)
                       != {url for url, _ in expected["visited"]}):
        bad.append("live crawl did not download every page of the site")
    return bad


if __name__ == "__main__":
    # child-process entry: ``workloads.py <workload> <gen_seed> [<base>]``
    # prints the oracle's expected output as JSON
    import json
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    name, gen_seed = sys.argv[1], int(sys.argv[2])
    base = sys.argv[3] if len(sys.argv) > 3 else ""
    json.dump(run_oracle(WORKLOADS[name], gen_seed, base), sys.stdout)
