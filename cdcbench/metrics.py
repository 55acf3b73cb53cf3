"""End-to-end metrics from the spans of an untraced run; per-layer metrics
from a traced run's spans, its lake metadata and its Spark event log."""

from __future__ import annotations

import glob
import os
from statistics import median
from typing import Any

from . import eventlog as el
from .spans import wall_ms

Metrics = dict[str, tuple[float, str]]


def _med(values: list[float], default: float = 0.0) -> float:
    return float(median(values)) if values else default


def setup_parts(b: Any) -> dict[str, float]:
    """Set-up time by part. A part repeated in the run (the bulk
    workload's bootstrap of each fresh lake) counts once, by its median."""
    return {
        "session_ms": b.session_span["end_ms"] - b.process_start_ms,
        "bootstrap_ms": _med(b.setup["bootstrap_ms"]),
        "preload_ms": _med(b.setup.get("preload_ms", [])),
        "warmup_ms": _med(b.setup["warmup_ms"]),
    }


def end_to_end(b: Any, peak_kb: int) -> Metrics:
    s = b.samples
    return {
        "setup_s": (sum(setup_parts(b).values()) / 1000.0, "s"),
        "events_per_s": (b.events / (b.apply_ms / 1000.0), "events/s"),
        "e2e_events_per_s": (b.events / (b.e2e_ms / 1000.0), "events/s"),
        "freshness_ms_p50": (median(s["freshness_ms"]), "ms"),
        "commit_ms_p50": (median(s["commit_ms"]), "ms"),
        "lookup_ms_p50": (median(s["lookup_ms"]), "ms"),
        "scan_ms_p50": (median(s["scan_ms"]), "ms"),
        "changelog_ms_p50": (median(s["changelog_ms"]), "ms"),
        "peak_rss_mb": (peak_kb / 1024.0, "MB"),
    }


# ------------------------------------------------------------- per layer
def lake_figures(b: Any) -> dict[str, Any]:
    """Counts read from the checked lakes' snapshot metadata and file
    sizes: files and bytes each chunk appended, bytes each compaction
    wrote, and commits that lost their compare-and-set (manifests left
    outside the table's history)."""
    appended_files: list[int] = []
    appended_bytes = 0
    compact_bytes = 0
    conflicts = 0
    for applier in b.lakes:
        t = applier.target
        chain = t.snapshots()
        ids = {s.snapshot_id for s in chain}
        conflicts += sum(1 for s in t.all_snapshots() if s.snapshot_id not in ids)
        prev = None
        for s in chain:
            if prev is not None and s.committed_at and s.committed_at * 1000 >= b.setup_done_ms:
                if s.operation == "delta-append":
                    new = _new_files(prev.delta_files, s.delta_files)
                    appended_files.append(len(new))
                    appended_bytes += _size(t.path, new)
                elif s.operation == "compact":
                    compact_bytes += _size(t.path, _new_files(prev.bucket_files, s.bucket_files))
            prev = s
    return {"appended_files": appended_files, "appended_bytes": appended_bytes,
            "compact_bytes": compact_bytes, "conflicts": conflicts}


def _new_files(before: dict, after: dict) -> list[str]:
    old = {f for fs in before.values() for f in fs}
    return [f for fs in after.values() for f in fs if f not in old]


def _size(root: str, files: list[str]) -> int:
    return sum(os.path.getsize(os.path.join(root, f)) for f in files)


PROBE_REPEATS = 3


def run_probes(b: Any) -> None:
    """Isolated validate/dedup probes on the largest input part: the same
    scan sunk to ``noop`` alone, after ``validation_reason``, and after
    ``lww_dedup`` as well; the differences in executor time are the
    layers' own."""
    import pyarrow.parquet as pq

    from data_services_spark.cdc.dedup import lww_dedup
    from data_services_spark.cdc.validate import validation_reason

    part = 0 if b.shape.base_events else 1
    b.probe_events = pq.ParquetDataset(b.part_path(part)).read(columns=["lsn"]).num_rows
    df = b.read_part(part)
    valid = df.where(validation_reason(df).isNull())
    plans = {
        "probe.scan": df,
        "probe.validate": valid,
        "probe.dedup": lww_dedup(valid, keys=["conv_id", "turn_idx"], order=["ts", "lsn"]),
    }
    for _ in range(PROBE_REPEATS):
        for name, plan in plans.items():
            with b.tracer.span(name):
                plan.write.format("noop").mode("overwrite").save()


def _exec(log: el.EventLog, sp: dict) -> float:
    jobs = log.jobs_within(sp["start_ms"], sp["end_ms"])
    return el.totals(st for j in jobs for st in log.job_stages(j))["run_ms"]


def per_layer(b: Any, lake: dict[str, Any], log_dir: str, e2e: Metrics,
              untraced_commit_ms: list[float]) -> Metrics:
    files = glob.glob(os.path.join(log_dir, "*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    log = el.load_event_log(files[0])
    in_window = [s for s in b.tracer.spans
                 if s["end_ms"] is not None and s["start_ms"] >= b.setup_done_ms]

    def spans(name: str) -> list[dict]:
        return [s for s in in_window if s["name"] == name]

    out: Metrics = {}
    for k, v in setup_parts(b).items():
        out[f"setup.{k}"] = (v, "ms")

    # validate / dedup: isolated probes
    probe = {n: _med([_exec(log, s) for s in b.tracer.named(n)])
             for n in ("probe.scan", "probe.validate", "probe.dedup")}
    per_mev = 1e6 / max(1, b.probe_events)
    out["validate.exec_ms_per_Mev"] = ((probe["probe.validate"] - probe["probe.scan"]) * per_mev, "ms/Mev")
    out["dedup.exec_ms_per_Mev"] = ((probe["probe.dedup"] - probe["probe.validate"]) * per_mev, "ms/Mev")

    # apply_chunk spans split by stage shape
    chunks = spans("apply_chunk")
    writes = spans("write_delta_files")
    valid = sum(s["attrs"].get("events", 0) for s in chunks)
    quarantined = sum(s["attrs"].get("quarantined", 0) for s in chunks)
    per_chunk: dict[str, list[float]] = {k: [] for k in (
        "map_ms", "result_ms", "side_ms", "driver_ms", "jobs", "residual", "write_exec",
        "write_gc", "write_skew", "map_skew")}
    winners = shuffle_w = spill = 0.0
    for sp in chunks:
        w = next((x for x in writes if sp["start_ms"] <= x["start_ms"] and x["end_ms"] <= sp["end_ms"]), None)
        jobs = log.jobs_within(sp["start_ms"], sp["end_ms"])
        apply_jobs = [j for j in jobs if w is not None and j.start_ms <= w["end_ms"] + 1.0]
        side_jobs = [j for j in jobs if j not in apply_jobs]
        stages = [st for j in apply_jobs for st in log.job_stages(j)]
        maps = [st for st in stages if st.is_map]
        results = [st for st in stages if not st.is_map and st.writes_output]
        map_ms = el.union_ms((st.start_ms, st.end_ms) for st in maps)
        result_ms = el.union_ms((st.start_ms, st.end_ms) for st in results)
        side_ms = el.union_ms((j.start_ms, j.end_ms) for j in side_jobs)
        drv = el.driver_ms(sp, log)
        wall = wall_ms(sp)
        per_chunk["map_ms"].append(map_ms)
        per_chunk["result_ms"].append(result_ms)
        per_chunk["side_ms"].append(side_ms)
        per_chunk["driver_ms"].append(drv)
        per_chunk["jobs"].append(len(jobs))
        per_chunk["residual"].append(abs(wall - map_ms - result_ms - side_ms - drv) / wall)
        rt = el.totals(results)
        per_chunk["write_exec"].append(rt["run_ms"])
        per_chunk["write_gc"].append(rt["gc_ms"])
        per_chunk["write_skew"].append(el.task_skew(results))
        per_chunk["map_skew"].append(el.task_skew(maps))
        winners += rt["output_records"]
        mt = el.totals(maps)
        shuffle_w += mt["shuffle_write_bytes"]
        spill += mt["spill_bytes"] + rt["spill_bytes"]
    events = max(1, valid + quarantined)
    out["validate.quarantined_frac"] = (quarantined / events, "frac")
    out["dedup.collapse_ratio"] = (winners / max(1, valid), "ratio")
    out["dedup.shuffle_write_bytes_per_event"] = (shuffle_w / events, "bytes/event")
    out["dedup.spill_bytes"] = (spill, "bytes")
    out["dedup.task_skew"] = (_med(per_chunk["map_skew"], 1.0), "ratio")
    out["write.exec_ms"] = (_med(per_chunk["write_exec"]), "ms")
    out["write.gc_ms"] = (_med(per_chunk["write_gc"]), "ms")
    out["write.bytes_per_event"] = (lake["appended_bytes"] / events, "bytes/event")
    out["write.files_per_chunk"] = (_med(lake["appended_files"]), "count")
    out["write.task_skew"] = (_med(per_chunk["write_skew"], 1.0), "ratio")
    out["apply.map_ms_per_chunk"] = (_med(per_chunk["map_ms"]), "ms")
    out["apply.result_ms_per_chunk"] = (_med(per_chunk["result_ms"]), "ms")
    out["apply.side_jobs_ms_per_chunk"] = (_med(per_chunk["side_ms"]), "ms")
    out["apply.driver_ms_per_chunk"] = (_med(per_chunk["driver_ms"]), "ms")
    out["apply.jobs_per_chunk"] = (_med(per_chunk["jobs"]), "count")
    out["apply.split_residual_frac"] = (max(per_chunk["residual"], default=0.0), "frac")
    out["commit.conflicts"] = (float(lake["conflicts"]), "count")

    # compaction (threshold-triggered and final)
    comp = spans("compact")
    comp_stages = [[st for j in log.jobs_within(s["start_ms"], s["end_ms"])
                    for st in log.job_stages(j)] for s in comp]
    out["compact.count"] = (float(len(comp)), "count")
    out["compact.span_ms"] = (_med([wall_ms(s) for s in comp]), "ms")
    out["compact.exec_ms"] = (_med([el.totals(st)["run_ms"] for st in comp_stages]), "ms")
    # JVM CPU only: the gap to exec_ms is mostly the Python workers of
    # the Arrow (mapInPandas) rewrite and I/O wait
    out["compact.jvm_cpu_ms"] = (_med([el.totals(st)["cpu_ms"] for st in comp_stages]), "ms")
    out["compact.driver_ms"] = (_med([el.driver_ms(s, log) for s in comp]), "ms")
    out["compact.bytes_rewritten_per_event"] = (lake["compact_bytes"] / events, "bytes/event")
    out["compact.task_skew"] = (_med([el.task_skew(st) for st in comp_stages], 1.0), "ratio")

    # reads
    def read_fig(name: str) -> dict[str, float]:
        figs = []
        for s in spans(name):
            t = el.totals(st for j in log.jobs_within(s["start_ms"], s["end_ms"])
                          for st in log.job_stages(j))
            t["driver_ms"] = el.driver_ms(s, log)
            figs.append(t)
        return {k: _med([f[k] for f in figs]) for k in (figs[0] if figs else {})}

    scan, look, chg = read_fig("scan"), read_fig("lookup"), read_fig("changelog")
    depths = [s["attrs"].get("depth", 0) for s in spans("scan") + spans("lookup")]
    out["read.delta_depth_max"] = (float(max(depths, default=0)), "count")
    out["read.scan.input_bytes"] = (scan.get("input_bytes", 0.0), "bytes")
    out["read.scan.shuffle_bytes"] = (scan.get("shuffle_write_bytes", 0.0), "bytes")
    out["read.scan.exec_ms"] = (scan.get("run_ms", 0.0), "ms")
    out["read.lookup.input_bytes"] = (look.get("input_bytes", 0.0), "bytes")
    out["read.lookup.tasks"] = (look.get("tasks", 0.0), "count")
    out["read.lookup.driver_ms"] = (look.get("driver_ms", 0.0), "ms")
    out["changelog.buckets_diffed"] = (
        _med([s["attrs"]["buckets_diffed"] for s in spans("changelog")]), "count")
    out["changelog.shuffle_bytes"] = (chg.get("shuffle_write_bytes", 0.0), "bytes")
    out["changelog.exec_ms"] = (chg.get("run_ms", 0.0), "ms")
    out["changelog.driver_ms"] = (chg.get("driver_ms", 0.0), "ms")

    base = _med(untraced_commit_ms, e2e["commit_ms_p50"][0])
    out["trace_overhead_frac"] = (e2e["commit_ms_p50"][0] / base - 1.0, "frac")
    return out
