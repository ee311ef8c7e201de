#!/usr/bin/env python3
"""crawlbench: end-to-end and per-layer benchmark of the suckit_spark crawl.

Usage, from the repository root::

    python3 crawlbench/run.py --workload crawl_small --seed 1 \\
        --seconds 20 --trace 0

One run starts one local Spark session on all cores, prepares the seeded
inputs, computes the expected output with the pure-Python oracle (in a child
process, while Spark starts), warms the engine with the first supersteps of
a crawl, then crawls repeatedly for ``--seconds`` (at least twice) and
checks every measured crawl against the oracle. The last line of stdout is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` writes an
uncompressed Spark event log, labels every job of one crawl from outside the
program (``tracing.Labeler``) and reports per-layer metrics. See README.md.
Exit status is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: buckets of the url-bucketed pages table (sized to the corpus; bench.py
#: uses 64 for a 3x larger one)
N_BUCKETS = 16
#: pages in the in-process page-pipeline batch
PIPELINE_SAMPLE = 400
#: latency samples per in-process probe: p99 then has 10 samples beyond it
PROBE_TIMINGS = 1000
#: measured crawls per run, even past ``--seconds``
MIN_CRAWLS = 2


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ---------------------------------------------------------------------------
# processes and memory, from /proc (psutil is not installed)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_mb(pid: int) -> float:
    """Summed RSS of ``pid`` and its descendants. A child whose program
    size equals its parent's still runs in the parent's pages (the JVM
    spawns helper processes through vfork, whose child reports the whole
    JVM's RSS until it execs), so it is not counted."""
    page = os.sysconf("SC_PAGE_SIZE")
    kids = _children_map()
    total, todo = 0, [(pid, None)]
    while todo:
        p, parent_size = todo.pop()
        try:
            with open(f"/proc/{p}/statm") as f:
                size, rss = (int(x) for x in f.read().split()[:2])
        except (OSError, ValueError):
            continue
        if size != parent_size:
            total += rss * page
        todo += [(c, size) for c in kids.get(p, [])]
    return total / (1024 * 1024)


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and its Python workers), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while True:
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over cores
    (field 8 of the ``cpu`` line of /proc/stat); run-to-run context on a
    shared VM."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def refuse_dirty_box() -> None:
    """Another live Spark JVM or Python worker skews every timing."""
    mine = set(descendants(os.getpid())) | {os.getpid()}
    busy = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) in mine:
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if (b"org.apache.spark.deploy.SparkSubmit" in cmd
                or b"pyspark.daemon" in cmd or b"pyspark/daemon" in cmd):
            busy.append(int(name))
    if busy:
        raise SystemExit(f"crawlbench: refusing to run, live Spark "
                         f"processes {busy}; stop them first")


# ---------------------------------------------------------------------------
# Spark session


def total_mem_gb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // (1024 * 1024)
    return 8


def build_spark(cores: int, work: str, event_log: str | None):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    # an eighth of the box, 2-8 GiB: local mode runs every task in it
    heap_gb = max(2, min(8, total_mem_gb() // 8))
    b = (SparkSession.builder.master(f"local[{cores}]")
         .appName("crawlbench")
         .config("spark.sql.shuffle.partitions", str(max(cores * 2, 8)))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
         .config("spark.driver.memory", f"{heap_gb}g")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         # keep JVM scratch inside the checkout (no /tmp/hsperfdata
         # either). The heap is committed and touched at start, so the
         # JVM's RSS does not follow the GC's heap-sizing decisions.
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
                 f"-XX:-UsePerfData -Xms{heap_gb}g -XX:+AlwaysPreTouch"))
    if event_log:
        # uncompressed: Python has no zstd module here, and Spark 4.1
        # compresses event logs with zstd by default
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{event_log}")
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for
    each to end."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        jvm = getattr(gateway, "proc", None)
        gateway.shutdown()
        if jvm is not None:
            jvm.stdin.close()   # the gateway server exits on stdin EOF
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


# ---------------------------------------------------------------------------
# the benchmark


class Bench:
    def __init__(self, args, work: str):
        from workloads import WORKLOADS

        self.args = args
        self.shape = WORKLOADS[args.workload]
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.layer: dict[str, float] = {}
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.site = None
        self.base = ""
        self.pages = None
        self.event_log = None
        if args.trace:
            self.event_log = os.path.join(work, "eventlog")
            os.makedirs(self.event_log)

    # -- set-up -------------------------------------------------------------
    def setup(self) -> None:
        import workloads as W
        from suckit_spark.config import CrawlConfig
        from suckit_spark.plans.crawl import crawl

        t0 = time.monotonic()
        shape = self.shape
        bloom = (shape.bloom_threshold if shape.bloom_threshold is not None
                 else CrawlConfig(origin="http://x/").bloom_threshold)
        self.gen_seed = W.pick_gen_seed(shape, self.args.seed, bloom)
        if shape.live:
            from suckit_spark.sources.loopback import LoopbackSite
            self.site = LoopbackSite(n_pages=shape.pages_per_host,
                                     fanout=shape.fanout, seed=self.gen_seed,
                                     body_kb=shape.body_kb)
            self.base = self.site.__enter__()
        self.layer["sources.inputs_s"] = time.monotonic() - t0

        # the oracle runs in a child process while Spark starts
        oracle = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "workloads.py"), shape.name,
             str(self.gen_seed), self.base],
            stdout=subprocess.PIPE)
        try:
            t = time.monotonic()
            self.spark = build_spark(self.cores, self.work, self.event_log)
            self.layer["sources.session_s"] = time.monotonic() - t
            if not shape.live:
                self._prepare_corpus()
            t = time.monotonic()
            out, _ = oracle.communicate()
            self.layer["sources.oracle_wait_s"] = time.monotonic() - t
        finally:
            if oracle.poll() is None:
                oracle.kill()
                oracle.wait()
        if oracle.returncode != 0:
            raise SystemExit("crawlbench: oracle failed")
        self.expected = json.loads(out)
        # the first supersteps of a crawl pay the one-time costs: Python
        # worker start-up, class loading, code generation
        t = time.monotonic()
        warm = dataclasses.replace(
            W.crawl_config(shape, self.base, self._ckpt_dir()),
            max_supersteps=shape.warmup_supersteps)
        res = crawl(self.spark, warm, self._pages())
        res.crawl_log.count()
        self._close(res, warm)
        self.layer["sources.warmup_s"] = time.monotonic() - t
        self.setup_s = time.monotonic() - t0

    def _prepare_corpus(self) -> None:
        from pyspark import StorageLevel
        from suckit_spark.sources import corpus

        s = self.shape
        t = time.monotonic()
        gen = corpus.gen_corpus_df(
            self.spark, s.hosts, s.pages_per_host, fanout=s.fanout,
            mega_host_factor=s.mega, seed=self.gen_seed,
            partitions=self.cores * 2, body_kb=s.body_kb)
        if self.args.trace:
            # time the render alone; untraced runs fuse it into the write
            gen = gen.persist(StorageLevel.MEMORY_AND_DISK)
            gen.count()
            self.layer["sources.gen_corpus_s"] = time.monotonic() - t
            t = time.monotonic()
        self.pages = corpus.prepare_pages_table(
            self.spark, gen, os.path.join(self.work, "pages"),
            n_buckets=N_BUCKETS, table_name="crawlbench_pages")
        self.pages.count()
        gen.unpersist()
        self.layer["sources.prepare_pages_table_s"] = time.monotonic() - t

    def _ckpt_dir(self):
        return (tempfile.mkdtemp(prefix="ckpt_", dir=self.work)
                if self.shape.checkpoint else None)

    def _pages(self):
        """The crawl's pages input: the bucketed corpus table, or an empty
        frame in live mode."""
        from suckit_spark.schemas import PAGES_SCHEMA

        if self.shape.live:
            return self.spark.createDataFrame([], PAGES_SCHEMA)
        return self.pages

    # -- one measured crawl -------------------------------------------------
    def crawl_once(self, labeler=None):
        """Crawl, time it, check it. Returns (wall_s, rows, result, cfg);
        the caller closes ``result``."""
        import workloads as W
        from suckit_spark.plans.crawl import crawl

        cfg = W.crawl_config(self.shape, self.base, self._ckpt_dir())
        pages = self._pages()
        expected_rows = len(self.expected["visited"])
        if labeler is not None:
            labeler.install()
            labeler.label(0, "init")
        try:
            start, t0 = time.time(), time.monotonic()
            res = crawl(self.spark, cfg, pages)
            if labeler is not None:
                labeler.label(phase="finalize")
            rows = res.crawl_log.count()
            wall = time.monotonic() - t0
            self.window = (start, time.time())
        except Exception as e:  # a crawl that raises fails all its fetches
            self.problems.append(f"crawl raised {e!r}")
            self.attempted += expected_rows
            self.failed += expected_rows
            return None
        finally:
            if labeler is not None:
                labeler.uninstall()
                self.spark.sparkContext.setJobDescription(None)
        visited = [[r.url, r.status] for r in
                   res.crawl_log.select("url", "status").collect()]
        seen = [r.url for r in res.seen.select("url").collect()]
        mirror = ([r.url for r in res.mirror.select("url").collect()]
                  if self.shape.live else None)
        bad = W.check(self.shape, self.expected, res.supersteps, visited,
                      seen, mirror)
        self.attempted += rows
        if bad:
            self.problems += bad
            self.failed += rows
        return wall, rows, res, cfg

    def _close(self, res, cfg) -> None:
        res.close()
        if cfg.checkpoint_dir:
            shutil.rmtree(cfg.checkpoint_dir, ignore_errors=True)

    # -- end-to-end run -----------------------------------------------------
    def measure(self) -> dict:
        """Crawl until the next crawl would end past ``--seconds`` (at
        least ``MIN_CRAWLS`` times); report medians over the crawls."""
        walls, rates = [], []
        steal0 = steal_s()
        t0 = time.monotonic()
        with RssSampler() as rss:
            while len(walls) < MIN_CRAWLS or (
                    time.monotonic() - t0 + walls[-1] <= self.args.seconds):
                got = self.crawl_once()
                if got is None:
                    break
                wall, rows, res, cfg = got
                self._close(res, cfg)
                walls.append(wall)
                rates.append(rows / wall)
        self.walls = walls
        self.steal = steal_s() - steal0
        if not walls:
            return {}
        return {
            "wall_s": statistics.median(walls),
            "urls_per_s": statistics.median(rates),
            "peak_rss_mb": rss.peak,
            "setup_s": self.setup_s,
        }

    # -- traced run ---------------------------------------------------------
    def traced(self) -> dict:
        """The labeled crawl runs first, in the same warm state as the
        measured crawl of an untraced run; a second, unlabeled crawl
        follows (it is warmer, so ``trace.overhead_s`` over-states the
        labels' cost)."""
        import tracing as T

        labeler = T.Labeler(self.spark, self.shape.name)
        requests0 = connections0 = 0
        if self.site is not None:
            requests0 = self.site.requests_served
            connections0 = self.site.connections_opened
        got = self.crawl_once(labeler)
        if got is None:
            return {}
        wall, rows, res, cfg = got
        window = self.window
        m = dict(self.layer)
        m.update({"trace.traced_wall_s": wall,
                  "trace.load_avg_1m": os.getloadavg()[0]})
        m.update(self._crawl_layer(res, rows, labeler))
        m.update(self._result_layers(res, cfg, rows))
        if self.site is not None:
            req = self.site.requests_served - requests0
            conn = self.site.connections_opened - connections0
            m["live_fetch.requests"] = req
            m["live_fetch.connections"] = conn
            m["live_fetch.conn_reuse"] = req / conn if conn else 0.0
        self._close(res, cfg)
        untraced = self.crawl_once()
        if untraced is None:
            return {}
        self._close(untraced[2], untraced[3])
        m.update({"trace.untraced_wall_s": untraced[0],
                  "trace.overhead_s": wall - untraced[0]})
        m.update(self._probes(cfg))
        stop_spark(self.spark)
        self.spark = None
        m.update(T.spark_stats(self.event_log, self.shape.name,
                               window, wall, self.cores))
        fetch_task_s = m.pop("spark.fetch_stage_task_s")
        # error rows (dead links) never reach the parse kernel
        kernel_s = self._kernel_s_per_page * (
            m["frontier.selected"] - m["crawl.errors"])
        m["page_pipeline.udf_overhead_ratio"] = (
            fetch_task_s / kernel_s if kernel_s else 0.0)
        m["dedup.cand_dedup_shuffle_mb"] = m[
            "spark.cand_dedup.shuffle_write_mb"]
        return m

    def _crawl_layer(self, res, rows, labeler) -> dict:
        phases = {}
        for p in res.phase_times:
            for k, v in p.items():
                if k != "superstep":
                    phases[k] = phases.get(k, 0.0) + v
        commits = labeler.commit_s or [0.0]
        return {
            "crawl.supersteps": res.supersteps,
            "crawl.superstep_p50_s": statistics.median(res.wall_times),
            "crawl.superstep_max_s": max(res.wall_times),
            "crawl.phase.fetch_parse_write_s": phases["fetch_parse_mirror"],
            "crawl.phase.cand_dedup_s": phases["cand_dedup"],
            "crawl.phase.rest_s": phases["rest"],
            "crawl.phase.commit_s": sum(labeler.commit_s),
            "crawl.visited": rows,
            "checkpoint.commit_p50_s": statistics.median(commits),
            "checkpoint.commit_max_s": max(commits),
        }

    def _result_layers(self, res, cfg, rows) -> dict:
        """Counts read back from the crawl's own output (untimed)."""
        from pyspark.sql import functions as F

        import tracing
        from suckit_spark.operators import frontier as frontier_ops

        spark = self.spark
        spark.sparkContext.setJobDescription("analysis")
        store = spark.read.parquet(
            os.path.join(res.spill_dir, "step=*", "result"))
        agg = store.agg(
            F.sum(F.size("links")).alias("cand"),
            F.sum("n_bytes").alias("out"),
            F.sum((F.col("status") == "error").cast("long")).alias("err"),
        ).first()
        if self.shape.live:
            bytes_in = sum(len(b) for b in self.site.site.values())
        else:
            bytes_in = (store.select("fetch_url").join(
                self.pages.select(F.col("url").alias("fetch_url"),
                                  F.length("html").alias("b")),
                "fetch_url").agg(F.sum("b")).first()[0]) or 0
        seen_by_step = dict(
            (r.superstep, r["count"])
            for r in res.seen.groupBy("superstep").count().collect())
        seen_total = sum(seen_by_step.values())
        threshold = cfg.bloom_threshold
        cum, bloom_steps = 0, 0
        for s in range(res.supersteps):
            if threshold is not None and cum >= threshold:
                bloom_steps += 1
            cum += seen_by_step.get(s, 0)
        mb = 1024 * 1024
        cand = int(agg["cand"] or 0)
        new = seen_total - 1
        m = {
            "crawl.seen": seen_total,
            "crawl.errors": int(agg["err"] or 0),
            "page_pipeline.bytes_in_mb": bytes_in / mb,
            "page_pipeline.bytes_out_mb": (agg["out"] or 0) / mb,
            "dedup.candidates": cand,
            "dedup.new_urls": new,
            "dedup.new_per_candidate": new / cand if cand else 0.0,
            "dedup.bloom_supersteps": bloom_steps,
            "frontier.selected": rows,
            "frontier.deferred": 0,
            "frontier.budget_s": 0.0,
            "checkpoint.bytes_written_mb": 0.0,
            "checkpoint.write_amplification": 0.0,
            "live_fetch.errors": int(agg["err"] or 0) if self.site else 0,
        }
        if cfg.checkpoint_dir:
            from suckit_spark.plans.checkpoint import CrawlCheckpoint
            ck = CrawlCheckpoint(spark, cfg.checkpoint_dir)
            manifests = ck.manifests()
            queued = 1 + sum(x["stats"]["frontier_rows"] for x in manifests)
            m["frontier.deferred"] = queued - rows
            written = tracing.dir_bytes(cfg.checkpoint_dir)
            m["checkpoint.bytes_written_mb"] = written / mb
            m["checkpoint.write_amplification"] = (
                written / bytes_in if bytes_in else 0.0)
            if cfg.host_budget is not None:
                # the budget operator, timed alone on each committed frontier
                t = time.monotonic()
                for x in manifests:
                    fr = spark.read.parquet(os.path.join(
                        cfg.checkpoint_dir,
                        f"step={x['superstep']:06d}", "frontier"))
                    sel, dfr = frontier_ops.apply_host_budget(
                        fr, cfg.host_budget,
                        salt_buckets=cfg.skew_salt_buckets)
                    sel.count()
                    if dfr is not None:
                        dfr.count()
                m["frontier.budget_s"] = time.monotonic() - t
        spark.sparkContext.setJobDescription(None)
        return m

    def _probes(self, cfg) -> dict:
        import tracing as T
        import workloads as W

        pages = (W.live_pages(self.shape, self.gen_seed, self.base)
                 if self.shape.live
                 else W.corpus_pages(self.shape, self.gen_seed))
        out, self._kernel_s_per_page = T.page_pipeline_probe(
            cfg, pages, PIPELINE_SAMPLE, PROBE_TIMINGS)
        if self.site is not None:
            lf = T.live_fetch_probe(cfg, sorted(pages), PROBE_TIMINGS)
            if lf.pop("live_fetch.probe_errors"):
                self.problems.append("live fetch probe saw errors")
            out.update(lf)
        return out

    def close(self) -> None:
        if getattr(self, "spark", None) is not None:
            stop_spark(self.spark)
            self.spark = None
        if self.site is not None:
            self.site.__exit__(None, None, None)
            self.site = None


def contract(trace: int) -> list[dict]:
    """The metrics BENCHMARK.json names for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "suckit_spark")):
        print("crawlbench: suckit_spark/ not found beside crawlbench/; run "
              "from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    refuse_dirty_box()
    # Python workers import suckit_spark from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    work = os.path.join(ROOT, ".crawlbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    bench = Bench(args, work)
    try:
        bench.setup()
        metrics = bench.traced() if args.trace else bench.measure()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass    # another run still uses it
    correct = not bench.problems and bool(metrics)
    for p in bench.problems:
        print(f"crawlbench: check failed: {p}", file=sys.stderr)
    # context first (load, per-crawl walls, set-up parts), result last
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "gen_seed": getattr(bench, "gen_seed", None),
                      "cores": bench.cores,
                      "load_avg_1m": os.getloadavg()[0],
                      "walls": getattr(bench, "walls", None),
                      "steal_s": getattr(bench, "steal", None),
                      "setup": bench.layer}))
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, bench.attempted),
        "failed": bench.failed if correct else max(1, bench.failed),
        "metrics": {m["name"]: {"value": metrics.get(m["name"], 0),
                                "unit": m["unit"]}
                    for m in contract(args.trace)},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
