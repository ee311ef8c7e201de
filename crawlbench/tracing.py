"""Traced-run instrumentation, all from outside the program.

* :class:`Labeler` wraps ``DataFrameWriter.parquet``,
  ``DataFrame.localCheckpoint``, ``DataFrame.count`` and
  ``CrawlCheckpoint.commit`` so that every Spark job ``crawl()`` launches
  carries the job description ``bench:<workload>:step=N:phase=P``. The step
  comes from the ``step=NNNNNN`` spill path of the superstep write; the phase
  follows the loop's order: ``fetch_parse_write`` (the superstep parquet
  write), ``cand_dedup`` (until the ``new_urls`` checkpoint), ``rest``, and
  ``commit`` inside ``CrawlCheckpoint.commit``.
* :func:`spark_stats` reads the uncompressed event log and sums stage and
  task metrics per phase label.
* The remaining functions time single layers in-process, without Spark.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time

PHASES = ("fetch_parse_write", "cand_dedup", "rest", "commit")
PREFIX = "bench:"
_STEP = re.compile(r"step=(\d+)")


class Labeler:
    """Install with :meth:`install`; remove with :meth:`uninstall`."""

    def __init__(self, spark, workload: str):
        self.spark = spark
        self.workload = workload
        self.step = 0
        self.phase = "init"
        self.commit_s: list[float] = []
        self._in_commit = False
        self._saved: list[tuple] = []

    def label(self, step: int | None = None, phase: str | None = None):
        if step is not None:
            self.step = step
        if phase is not None:
            self.phase = phase
        self.spark.sparkContext.setJobDescription(
            f"{PREFIX}{self.workload}:step={self.step}:phase={self.phase}")

    def install(self) -> None:
        from suckit_spark.plans.checkpoint import CrawlCheckpoint

        probe = self.spark.range(1)
        df_cls, writer_cls = type(probe), type(probe.write)
        lab = self

        orig_parquet = writer_cls.parquet
        orig_ckpt = df_cls.localCheckpoint
        orig_count = df_cls.count
        orig_commit = CrawlCheckpoint.commit

        def parquet(self, path, *a, **kw):
            m = _STEP.search(str(path))
            if lab._in_commit or m is None or not str(path).endswith(
                    "result"):
                return orig_parquet(self, path, *a, **kw)
            lab.label(int(m.group(1)), "fetch_parse_write")
            out = orig_parquet(self, path, *a, **kw)
            lab.label(phase="cand_dedup")
            return out

        def local_checkpoint(self, *a, **kw):
            out = orig_ckpt(self, *a, **kw)
            if lab.phase == "cand_dedup":
                lab.label(phase="rest")
            return out

        def count(self):
            lab.label()
            return orig_count(self)

        def commit(self, step, *a, **kw):
            lab.label(step, "commit")
            lab._in_commit = True
            t0 = time.monotonic()
            try:
                return orig_commit(self, step, *a, **kw)
            finally:
                lab.commit_s.append(time.monotonic() - t0)
                lab._in_commit = False
                lab.label(phase="rest")

        self._saved = [(writer_cls, "parquet", orig_parquet),
                       (df_cls, "localCheckpoint", orig_ckpt),
                       (df_cls, "count", orig_count),
                       (CrawlCheckpoint, "commit", orig_commit)]
        writer_cls.parquet = parquet
        df_cls.localCheckpoint = local_checkpoint
        df_cls.count = count
        CrawlCheckpoint.commit = commit

    def uninstall(self) -> None:
        for cls, name, fn in self._saved:
            setattr(cls, name, fn)
        self._saved = []


# ---------------------------------------------------------------------------
# event log


def _event_files(log_dir: str) -> list[str]:
    """Event-log files in write order: plain files, or the parts of a
    rolling ``eventlog_v2_*`` directory."""
    out = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = glob.glob(os.path.join(path, "events_*"))
            out += sorted(parts, key=lambda p: int(
                os.path.basename(p).split("_")[1]))
        else:
            out.append(path)
    return out


def read_stages(log_dir: str) -> tuple[list[dict], list[dict]]:
    """Completed stages (label, timing, summed task metrics) and jobs
    (label, submission time)."""
    stages: dict[tuple, dict] = {}
    jobs: dict[int, dict] = {}
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    props = ev.get("Properties") or {}
                    stages[key] = {
                        "label": props.get("spark.job.description") or "",
                        "tasks": info["Number of Tasks"], "task_s": 0.0,
                        "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write": 0,
                        "shuffle_read": 0, "spill": 0, "output": 0,
                        "submitted": None, "completed": None}
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    rec = stages.get((info["Stage ID"],
                                      info["Stage Attempt ID"]))
                    if rec is not None:
                        rec["submitted"] = info.get("Submission Time")
                        rec["completed"] = info.get("Completion Time")
                elif kind == "SparkListenerTaskEnd":
                    rec = stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                    m = ev.get("Task Metrics")
                    if rec is None or not m:
                        continue
                    rec["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    rec["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    rec["spill"] += m.get("Disk Bytes Spilled", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    rec["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    rec["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                    om = m.get("Output Metrics") or {}
                    rec["output"] += om.get("Bytes Written", 0)
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "label": props.get("spark.job.description") or "",
                        "submitted": ev.get("Submission Time")}
    done = [s for s in stages.values() if s["completed"] is not None]
    for s in done:
        s["stage_s"] = (s["completed"] - s["submitted"]) / 1e3
        m = re.match(rf"{PREFIX}[^:]*:step=(\d+):phase=(\w+)", s["label"])
        s["step"], s["phase"] = ((int(m.group(1)), m.group(2)) if m
                                 else (None, None))
    return done, list(jobs.values())


def _sums(stages: list[dict], wall_s: float, cores: int) -> dict:
    stage_s = sum(s["stage_s"] for s in stages)
    task_s = sum(s["task_s"] for s in stages)
    single = sum(s["stage_s"] for s in stages if s["tasks"] == 1)
    mb = 1024 * 1024
    return {
        "stage_s": stage_s,
        "task_s": task_s,
        "cpu_s": sum(s["cpu_s"] for s in stages),
        "core_busy_share": task_s / (wall_s * cores) if wall_s else 0.0,
        "single_task_stage_share": single / stage_s if stage_s else 0.0,
        "shuffle_write_mb": sum(s["shuffle_write"] for s in stages) / mb,
        "shuffle_read_mb": sum(s["shuffle_read"] for s in stages) / mb,
        "spill_mb": sum(s["spill"] for s in stages) / mb,
        "gc_s": sum(s["gc_s"] for s in stages),
        "output_mb": sum(s["output"] for s in stages) / mb,
    }


def spark_stats(log_dir: str, workload: str, window: tuple[float, float],
                wall_s: float, cores: int) -> dict:
    """Per-layer Spark metrics of the traced crawl: whole crawl plus each
    loop phase. ``window`` is the crawl's (start, end) in epoch seconds;
    a stage submitted inside it without a ``bench:`` label counts as
    unlabeled."""
    stages, jobs = read_stages(log_dir)
    lo, hi = window[0] * 1e3, window[1] * 1e3
    crawl_jobs = [j for j in jobs
                  if j["submitted"] is not None and lo <= j["submitted"] <= hi]
    mine = [s for s in stages
            if s["label"].startswith(f"{PREFIX}{workload}:")]
    unlabeled = [s for s in stages
                 if not s["label"].startswith(PREFIX)
                 and s["submitted"] is not None
                 and lo <= s["submitted"] <= hi]
    out = {f"spark.{k}": v for k, v in _sums(mine, wall_s, cores).items()}
    for phase in PHASES:
        part = [s for s in mine if s["phase"] == phase]
        for k, v in _sums(part, wall_s, cores).items():
            if k != "core_busy_share":
                out[f"spark.{phase}.{k}"] = v
    # the fetch stage of each superstep: the stage of the write job that
    # writes the result parquet (join read + page UDF + write)
    fetch = [s for s in mine
             if s["phase"] == "fetch_parse_write" and s["output"] > 0]
    out["spark.fetch_stage_tasks_min"] = min(
        (s["tasks"] for s in fetch), default=0)
    out["spark.fetch_stage_task_s"] = sum(s["task_s"] for s in fetch)
    out["crawl.spark_jobs"] = len(crawl_jobs)
    out["spark.unlabeled_stages"] = len(unlabeled)
    return out


# ---------------------------------------------------------------------------
# in-process layer probes (no Spark)


def _pct(values: list[float], q: float) -> float:
    ordered = sorted(values)
    return ordered[min(len(ordered) - 1, int(q * len(ordered)))]


def page_pipeline_probe(cfg, pages: dict, sample: int,
                        timings: int) -> tuple[dict, float]:
    """Time ``make_page_pipeline`` (pages/s) over one batch of a
    deterministic sample of the workload's pages, and ``process_page``
    (per-page latency) over ``timings`` calls cycling through the sample.
    Returns the metrics and the kernel seconds per page."""
    import pandas as pd
    from suckit_spark.operators.page_pipeline import (
        make_page_pipeline, process_page)

    urls = sorted(pages)
    step = max(1, len(urls) // sample)
    urls = urls[::step][:sample]
    rows = [{
        "url": u, "fetch_url": u, "depth": 0, "ext_depth": 0,
        "superstep": 0, "order_key": [0], "html": pages[u]["html"],
        "content_type": pages[u].get("content_type"),
        "content_disposition": None, "requires_auth": False,
        "auth_user": None, "auth_pass": None, "status": 200,
        "found": True, "set_cookie": None,
    } for u in urls]
    pipeline = make_page_pipeline(cfg, emit_page_text=False)
    batch = pd.DataFrame(rows)
    t0 = time.perf_counter()
    out = pd.concat(list(pipeline(iter([batch]))))
    batch_s = time.perf_counter() - t0
    lat = []
    for i in range(timings):
        r = rows[i % len(rows)]
        t0 = time.perf_counter()
        process_page(cfg, r["url"], r["html"], r["content_type"])
        lat.append(time.perf_counter() - t0)
    return {
        "page_pipeline.pages_per_s": len(rows) / batch_s,
        "page_pipeline.page_p50_ms": statistics.median(lat) * 1e3,
        "page_pipeline.page_p99_ms": _pct(lat, 0.99) * 1e3,
        "page_pipeline.links_per_page": float(
            out["links"].map(len).mean()),
    }, batch_s / len(rows)


def live_fetch_probe(cfg, urls: list[str], timings: int) -> dict:
    """Per-request latency of ``live_fetch.fetch_one`` over one pooled
    (keep-alive) opener, as one fetch partition uses it; ``timings``
    requests cycling through ``urls``."""
    from suckit_spark.operators import live_fetch

    opener = live_fetch._default_opener(cfg)
    lat, errors = [], 0
    try:
        for i in range(timings):
            t0 = time.perf_counter()
            got = live_fetch.fetch_one(cfg, urls[i % len(urls)],
                                       opener=opener)
            lat.append(time.perf_counter() - t0)
            errors += not got["found"]
    finally:
        opener.pool.close()
    return {"live_fetch.fetch_p50_ms": statistics.median(lat) * 1e3,
            "live_fetch.fetch_p99_ms": _pct(lat, 0.99) * 1e3,
            "live_fetch.probe_errors": errors}


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total
