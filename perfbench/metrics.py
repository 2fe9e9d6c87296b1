"""End-to-end and per-layer metrics from a finished run.

Every metric is ``name -> (value, unit)``.  Times are medians over the ops
of one class; "tail" is the highest whole percentile that has at least ten
samples beyond it.  Per-layer times are per-op means over the ops of the
class named in the metric (so they add up along a blocking path).
"""

from __future__ import annotations

import os
import statistics

from iceberg_geo_poc_spark.table import manifest as M
from iceberg_geo_poc_spark.table import metadata as MD
from iceberg_geo_poc_spark.table import reporting as RPT
from iceberg_geo_poc_spark.table import vector_eval as V

from workloads import by_class, percentile_tail

# (module, attribute) wrapped in a traced run; the span is named
# "<module short name>.<attribute>"
WRAPPED = [
    (M, "manifest", "compute_bboxes"),
    (M, "manifest", "harvest_stats"),
    (M, "manifest", "compute_nan_counts"),
    (M, "manifest", "write_manifest"),
    (M, "manifest", "read_manifest"),
    (MD, "metadata", "write_new_metadata"),
    (MD, "metadata", "read_metadata"),
    (V, "vector_eval", "might_match"),
    (V, "vector_eval", "all_match"),
]
LAYERS = ("table", "scan", "manifest", "metadata", "vector_eval", "maintenance", "catalog")


def install_wrappers(tracer) -> None:
    for module, short, attr in WRAPPED:
        tracer.wrap(module, attr, f"{short}.{attr}")


def median(xs):
    return statistics.median(xs) if xs else None


def environment(spark) -> dict:
    import pyarrow

    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "java": str(jvm.System.getProperty("java.version")),
        "master": spark.sparkContext.master,
        "jvm_pid": int(jvm.ProcessHandle.current().pid()),
    }


def end_to_end(runner, setup_s: float, stored: int, rss_mb: float) -> dict:
    cls = by_class([op for op in runner.ops if op.ok])
    lat = {k: [op.seconds for op in v] for k, v in cls.items()}
    out = {"setup_s": (setup_s, "s")}
    for k in ("append", "scan", "dml"):
        if lat.get(k):
            out[f"{k}_p50_s"] = (median(lat[k]), "s")
            tail = percentile_tail(lat[k])
            if tail is not None:
                out[f"{k}_tail_s"] = (tail[0], "s")
                out[f"{k}_tail_pct"] = (tail[1], "pct")
            out[f"{k}_n"] = (len(lat[k]), "count")
    appended = sum(op.info["rows"] for op in cls.get("append", []))
    if appended:
        out["ingest_rows_per_s"] = (appended / sum(lat["append"]), "rows/s")
    if lat.get("scan"):
        # reads completed per second of read time: the closed-loop query
        # throughput, unaffected by how many writes share the loop; the
        # fastest and slowest 10 % are trimmed so one stray read of a
        # dozen does not move it
        xs = sorted(lat["scan"])
        cut = len(xs) // 10
        kept = xs[cut:len(xs) - cut]
        out["scans_per_s"] = (len(kept) / sum(kept), "1/s")
    if lat.get("maintenance"):
        out["maintenance_s"] = (median(lat["maintenance"]), "s")
        out["maintenance_n"] = (len(lat["maintenance"]), "count")
    live = len(runner.model)
    if live:
        out["stored_bytes_per_row"] = (stored / live, "B/row")
    out["peak_rss_mb"] = (rss_mb, "MB")
    return out


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(runner, tracer, session_s: float) -> dict:
    ops = runner.ops
    cls = by_class(ops)
    appends, scans, dmls, maint = (cls.get(k, []) for k in ("append", "scan", "dml", "maintenance"))
    writes = appends + dmls + maint

    def layer_ms(name, group):
        per = tracer.by_op(name)
        return _mean([per.get(op.op_id, (0, 0.0))[1] * 1e3 for op in group])

    def calls(name, group):
        per = tracer.by_op(name)
        return _mean([per.get(op.op_id, (0, 0.0))[0] for op in group])

    def reports(group, kind):
        return [r for op in group for r in op.reports if isinstance(r, kind)]

    out = {}
    # write path
    out["manifest.compute_bboxes_ms"] = (layer_ms("manifest.compute_bboxes", appends), "ms")
    out["manifest.harvest_stats_ms"] = (layer_ms("manifest.harvest_stats", appends), "ms")
    out["manifest.compute_nan_counts_ms"] = (layer_ms("manifest.compute_nan_counts", appends), "ms")
    out["spark.jobs_per_append"] = (_mean([op.jobs for op in appends]), "count")
    # commit
    out["manifest.write_manifest_ms"] = (layer_ms("manifest.write_manifest", writes), "ms")
    out["metadata.write_new_metadata_ms"] = (layer_ms("metadata.write_new_metadata", writes), "ms")
    out["metadata.read_metadata_ms"] = (layer_ms("metadata.read_metadata", ops), "ms")
    commits = reports(writes, RPT.CommitReport)
    out["commit.attempts_per_commit"] = (_mean([r.attempts for r in commits]), "count")
    out["commit.manifests_in_list"] = (_mean([op.info.get("manifests", 0) for op in writes]), "count")
    # planning
    sreps = reports(scans, RPT.ScanReport)
    total = sum(r.total_data_files for r in sreps)
    kept = sum(r.result_data_files for r in sreps)
    m_skip = sum(r.skipped_data_manifests for r in sreps)
    m_read = sum(r.scanned_data_manifests for r in sreps)
    out["scan.plan_ms"] = (layer_ms("scan.plan", scans), "ms")
    out["manifest.read_manifest_ms"] = (layer_ms("manifest.read_manifest", scans), "ms")
    out["manifest.reads_per_scan"] = (calls("manifest.read_manifest", scans), "count")
    out["vector_eval.might_match_ms"] = (layer_ms("vector_eval.might_match", scans), "ms")
    out["vector_eval.all_match_ms"] = (layer_ms("vector_eval.all_match", scans), "ms")
    out["scan.files_kept_ratio"] = (kept / total if total else 0.0, "ratio")
    out["scan.manifests_skipped_ratio"] = (m_skip / (m_skip + m_read) if m_skip + m_read else 0.0, "ratio")
    # execution
    out["scan.build_ms"] = (layer_ms("scan.build", scans), "ms")
    for kind in ("box", "polygon", "point"):
        group = [op for op in scans if op.info.get("window") == kind]
        out[f"scan.exec_{kind}_ms"] = (layer_ms(f"scan.exec_{kind}", group), "ms")
    empty = [op for op in scans if not op.info.get("files")]
    out["scan.empty_ratio"] = (len(empty) / len(scans) if scans else 0.0, "ratio")
    out["scan.empty_ms"] = (_mean([op.seconds * 1e3 for op in empty]), "ms")
    out["spark.jobs_per_scan"] = (_mean([op.jobs for op in scans]), "count")
    read_records = sum(op.info.get("kept_records", 0) for op in scans)
    returned = sum(op.info.get("rows", 0) for op in scans)
    out["scan.residual_precision"] = (returned / read_records if read_records else 0.0, "ratio")
    out["scan.delete_files_per_scan"] = (_mean([r.result_delete_files for r in sreps]), "count")
    # row-level ops
    deletes = [op for op in dmls if op.kind.startswith("delete")]
    merges = [op for op in dmls if op.kind.startswith("merge")]
    dreps = reports(dmls, RPT.CommitReport)
    out["table.delete_ms"] = (_mean([op.seconds * 1e3 for op in deletes]), "ms")
    out["table.merge_ms"] = (_mean([op.seconds * 1e3 for op in merges]), "ms")
    out["dml.files_rewritten_per_op"] = (sum(r.removed_data_files for r in dreps) / len(dmls) if dmls else 0.0, "count")
    out["dml.delete_files_added_per_op"] = (sum(r.added_delete_files for r in dreps) / len(dmls) if dmls else 0.0, "count")
    out["spark.jobs_per_dml"] = (_mean([op.jobs for op in dmls]), "count")
    # maintenance
    out["maintenance.rewrite_data_files_s"] = (layer_ms("maintenance.rewrite_data_files", maint) / 1e3, "s")
    out["maintenance.expire_snapshots_ms"] = (layer_ms("maintenance.expire_snapshots", maint), "ms")
    out["maintenance.files_before"] = (_mean([op.info.get("files_before", 0) for op in maint]), "count")
    out["maintenance.files_after"] = (_mean([op.info.get("files_after", 0) for op in maint]), "count")
    # set-up
    out["session.start_s"] = (session_s, "s")
    out["catalog.create_table_ms"] = (runner.create_table_s * 1e3, "ms")
    # self time per layer, per op
    selft = tracer.self_seconds()
    for layer in LAYERS:
        out[f"self.{layer}_ms_per_op"] = (selft.get(layer, 0.0) * 1e3 / max(len(ops), 1), "ms")
    out["trace.spans_per_op"] = (len(tracer.spans) / max(len(ops), 1), "count")
    # traced latencies: tracing overhead = these minus the untraced run's
    for k, group in (("append", appends), ("scan", scans), ("dml", dmls)):
        out[f"traced.{k}_p50_s"] = (median([op.seconds for op in group]) or 0.0, "s")
    return out


def print_report(report: dict, e2e: dict, layer: dict, ops) -> None:
    print(f"perfbench {report['workload']} seed={report['seed']} trace={report['trace']}")
    env = report["environment"]
    print(
        f"  nproc={env['nproc']} master={env['master']} spark={env['spark']} "
        f"pyarrow={env['pyarrow']} java={env['java']}"
    )
    for k in ("session_start_s", "selfcheck_s", "loop_s", "failed_op_ratio",
              "peak_rss_python_mb", "peak_rss_jvm_mb"):
        print(f"  {k:<34} {report[k]:.4f}")
    print(f"  {'base_loads_s':<34} {' '.join(f'{x:.3f}' for x in report['base_loads_s'])}")
    print(f"  {'final_state_ok':<34} {report['final_state_ok']}")
    kinds: dict[str, list[float]] = {}
    for op in ops:
        kinds.setdefault(op.kind, []).append(op.seconds)
    for kind, xs in kinds.items():
        print(f"  op {kind:<31} n={len(xs):<3} p50={median(xs):.3f}s max={max(xs):.3f}s")
    for name, (value, unit) in list(e2e.items()) + list(layer.items()):
        print(f"  {name:<34} {value:.6g} {unit}")
