"""The workloads and the closed-loop runner over the public table/geo API.

One client, closed loop: the next op is sent only after the previous one
returns.  Every op kind appears in every workload, so each run reports
every end-to-end metric; the workloads differ in table shape and mix.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from iceberg_geo_poc_spark.geo import Point, Polygon, box
from iceberg_geo_poc_spark.table import Catalog, E
from iceberg_geo_poc_spark.table import maintenance as MT
from iceberg_geo_poc_spark.table import manifest as M
from iceberg_geo_poc_spark.table import reporting as RPT

from gen import Window, World
from oracle import Model, point_wkb, point_xy, replay
from spans import Tracer

SCHEMA = "id BIGINT, v DOUBLE, geom BINARY"
APPEND_BATCH = 500
# a timed loop ends at the first op boundary after its time limit once it
# has this many reads, so a slow machine lengthens the run a little instead
# of leaving a read median of two or three samples
MIN_READS = 10
CDC_MOVED, CDC_NEW = 100, 20
KEEP_SNAPSHOTS = 3
COMPACT_TARGET_BYTES = 64 * 1024  # rewrite_data_files target file size

# op kind -> latency class of the end-to-end metrics (None: not a sample)
CLASS = {
    "read": "scan",
    "append_warmup": None,
    "append_base": "append",
    "append": "append",
    "delete_mor": "dml",
    "delete_cow": "dml",
    "merge_mor": "dml",
    "merge_cow": "dml",
    "maintenance": "maintenance",
}


@dataclass(frozen=True)
class Spec:
    """A workload: base table built in set-up, then a repeated op cycle."""

    base_parts: int  # base-load appends, one spatial slab each
    base_rows: int  # rows per base-load append
    files_per_append: int  # write.range-partitions of the table
    cycle: tuple[str, ...]  # op kinds, repeated until the time is up
    window_max_half: float  # largest query window half-width, degrees
    trace_cycles: int  # fixed cycle count of a traced run


WORKLOADS = {
    # A spatially clustered table (120 files over 4 manifests, ingested by
    # four appends in set-up) queried by a read-only closed loop of window
    # queries.  Pruning (manifest bounds, file bboxes), the residual geo
    # kernel and the Spark scan do all the work.
    "window_query": Spec(
        base_parts=4,
        base_rows=15_000,
        files_per_append=30,
        cycle=("read",),
        window_max_half=25.0,
        trace_cycles=30,
    ),
    # One table receiving an interleaved op log: merge-on-read and
    # copy-on-write deletes, appends, CDC merges that move points,
    # compaction + expiry, and window reads after every write.  Writes sit
    # beside reads, so shifting work between them (e.g. deferring it to
    # merge-on-read reads) shows in read latency or in space.  The cycle
    # opens with the merge-on-read writes and a run of reads, so a 12 s
    # loop always covers the same writes (MoR merge, MoR delete, append),
    # reads one table state, and ends among reads whatever the machine's
    # speed; the copy-on-write ops and maintenance follow and run in the
    # traced run's full cycle.  Reads after writes look near the data
    # (window half-widths up to 2 degrees).
    "upsert_mixed": Spec(
        base_parts=3,
        base_rows=5_000,
        files_per_append=4,
        cycle=(
            "merge_mor", "read", "read", "delete_mor", "read", "read",
            "append", *("read",) * 12, "delete_cow", "read", "read",
            "maintenance", "read", "read", "append", "read", "read",
            "merge_cow", "read", "read",
        ),
        window_max_half=2.0,
        trace_cycles=1,
    ),
}


def to_expr(w: Window) -> E.Expr:
    if w.kind == "point":
        g = Point(*w.point)
    elif w.kind == "box":
        g = box(*w.box)
    else:
        g = Polygon(w.ring)
    pred = E.st_covers("geom", g) if w.op == "st_covers" else E.st_intersects("geom", g)
    return pred if w.id_max is None else E.le("id", w.id_max) & pred


def run_window(table, expr, tracer: Tracer, exec_span: str = "scan.exec", value: str = "v"):
    """The counting code: planned files and (count, sum(id), sum(value)) of
    one window query, from ``scan()`` to the collected result."""
    scan = table.scan(where=expr)
    with tracer.span("scan.plan"):
        files = scan.files()
    with tracer.span("scan.build"):
        df = scan.to_df()
    with tracer.span(exec_span):
        row = df.agg(F.count(F.lit(1)), F.sum("id"), F.sum(value)).collect()[0]
    return files, (int(row[0]), int(row[1] or 0), float(row[2] or 0.0))


@dataclass
class Op:
    op_id: int
    kind: str
    seconds: float
    ok: bool
    jobs: int = 0
    reports: list = field(default_factory=list)
    info: dict = field(default_factory=dict)


class Runner:
    """Runs one workload against one fresh warehouse and keeps the samples."""

    def __init__(self, spark, warehouse: str, seed: int, spec: Spec, tracer: Tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.catalog = Catalog(warehouse, spark)
        self.world = World(seed, spec.window_max_half)
        self.tracer = tracer
        self.model = Model()
        self.oplog: list[tuple] = []
        self.ops: list[Op] = []
        self.next_id = 0
        self.table = None
        self.create_table_s = 0.0
        self._footer_rows: dict[str, int] = {}
        self.reporter = RPT.InMemoryMetricsReporter()
        RPT.register_metrics_reporter(warehouse, self.reporter)

    def close(self) -> None:
        RPT.unregister_metrics_reporter(self.reporter)

    # -- inputs -------------------------------------------------------------
    def _df(self, ids, v, x, y):
        pdf = pd.DataFrame({"id": ids, "v": v, "geom": point_wkb(x, y)})
        return self.spark.createDataFrame(pdf, SCHEMA)

    def _new_ids(self, n: int) -> np.ndarray:
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        return ids

    # -- op execution --------------------------------------------------------
    def _op(self, kind: str, run, check) -> Op:
        """Time ``run()``; then validate its result with ``check`` (untimed).
        An op that raises or returns a wrong result counts as failed."""
        op = Op(len(self.ops), kind, 0.0, False)
        group = f"perfbench-op-{op.op_id}"
        if self.tracer.enabled:
            self.sc.setJobGroup(group, kind)
        self.tracer.op_id = op.op_id
        n_reports = len(self.reporter.reports)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"table.{kind}"):
                result = run()
            op.seconds = time.perf_counter() - t0
            op.ok = bool(check(result, op))
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            op.seconds = time.perf_counter() - t0
            traceback.print_exc(file=sys.stderr)
        self.tracer.op_id = None
        op.reports = self.reporter.reports[n_reports:]
        if self.tracer.enabled:
            op.jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
            self.sc.setJobGroup("perfbench-idle", "between ops")
            self._trace_info(op)
        if not op.ok:
            print(f"perfbench: op {op.op_id} ({kind}) failed", file=sys.stderr)
        self.ops.append(op)
        return op

    def _trace_info(self, op: Op) -> None:
        """Untimed extras of a traced run: manifest-list length after a
        write, records in the files a read kept (footer row counts)."""
        import pyarrow.parquet as pq

        if op.kind == "read":
            for p in op.info.get("files", []):
                if p not in self._footer_rows:
                    self._footer_rows[p] = pq.read_metadata(p).num_rows
            op.info["kept_records"] = sum(self._footer_rows[p] for p in op.info.get("files", []))
        else:
            snap = self.table.current_snapshot()
            op.info["manifests"] = len(snap.manifest_list()) if snap else 0

    def append(self, n: int, kind: str) -> Op:
        """A spatially local batch (one blob near a cluster)."""
        return self._append(*self.world.local_batch(n), kind)

    def _append(self, x, y, kind: str) -> Op:
        n = len(x)
        ids, v = self._new_ids(n), self.world.values(n)
        df = self._df(ids, v, x, y)

        def check(_snap, op):
            self.model.append(ids, v, x, y)
            self.oplog.append(("append", ids, v, x, y))
            op.info["rows"] = n
            return True

        return self._op(kind, lambda: self.table.append(df), check)

    def read(self) -> Op:
        w = self.world.window(self.model.x, self.model.y, self.next_id - 1)
        expr = to_expr(w)

        def check(res, op):
            files, got = res
            op.info.update(window=w.kind, files=files, rows=got[0])
            return got == self.model.expect(w)

        return self._op(
            "read",
            lambda: run_window(self.table, expr, self.tracer, f"scan.exec_{w.kind}"),
            check,
        )

    def delete(self, mode: str, kind: str) -> Op:
        b = self.world.delete_box()
        expr = E.st_intersects("geom", box(*b))

        def check(_snap, _op):
            self.model.delete_box(b)
            self.oplog.append(("delete_box", b))
            return True

        return self._op(kind, lambda: self.table.delete(expr, mode=mode), check)

    def merge(self, mode: str, kind: str) -> Op:
        """CDC upsert: existing points move and get new values; a few new
        keys are inserted."""
        m = self.model
        pick = self.world.rng.choice(len(m), size=min(CDC_MOVED, len(m)), replace=False)
        mx, my = self.world.moved(m.x[pick], m.y[pick])
        nx, ny = self.world.local_batch(CDC_NEW)
        ids = np.concatenate([m.ids[pick], self._new_ids(CDC_NEW)])
        x, y = np.concatenate([mx, nx]), np.concatenate([my, ny])
        v = self.world.values(len(ids))
        src = self._df(ids, v, x, y)

        def run():
            return self.table.merge(
                src,
                on=["id"],
                when_matched_update={"v": F.col("s.v"), "geom": F.col("s.geom")},
                when_not_matched_insert=True,
                mode=mode,
            )

        def check(_snap, _op):
            self.model.upsert(ids, v, x, y)
            self.oplog.append(("upsert", ids, v, x, y))
            return True

        return self._op(kind, run, check)

    def maintenance(self) -> Op:
        def run():
            before = self._total_data_files()
            with self.tracer.span("maintenance.rewrite_data_files"):
                MT.rewrite_data_files(
                    self.table, strategy="hilbert", hilbert_column="geom",
                    target_file_size=COMPACT_TARGET_BYTES,
                )
            with self.tracer.span("maintenance.expire_snapshots"):
                MT.expire_snapshots(self.table, keep_last=KEEP_SNAPSHOTS)
            return before, self._total_data_files()

        def check(res, op):
            op.info["files_before"], op.info["files_after"] = res
            return True

        return self._op("maintenance", run, check)

    def _total_data_files(self) -> int:
        snap = self.table.current_snapshot()
        return int(snap.summary.get("total-data-files", 0)) if snap else 0

    def do(self, kind: str) -> Op:
        if kind == "read":
            return self.read()
        if kind == "append":
            return self.append(APPEND_BATCH, kind)
        if kind == "maintenance":
            return self.maintenance()
        mode = "merge-on-read" if kind.endswith("_mor") else "copy-on-write"
        if kind.startswith("delete"):
            return self.delete(mode, kind)
        return self.merge(mode, kind)

    # -- phases -------------------------------------------------------------
    def build(self, spec: Spec) -> None:
        """Create the workload table, ingest its base (one append per
        spatial slab) and warm up.  The first append of a process forks the
        Python workers and warms the JIT (several times the steady cost), so
        it is the warm-up and not a sample; two untimed window queries warm
        the scan path."""
        t0 = time.perf_counter()
        with self.tracer.span("catalog.create_table"):
            self.table = self.catalog.create_table(
                "pts", SCHEMA, geometry_columns={"geom": "wkb"},
                properties={
                    "write.sort-order": '["hilbert(geom)"]',
                    "write.distribution-mode": "range",
                    "write.range-partitions": str(spec.files_per_append),
                },
            )
        self.create_table_s = time.perf_counter() - t0
        for part in range(spec.base_parts):
            x, y = self.world.slab_points(spec.base_rows, part, spec.base_parts)
            self._append(x, y, "append_warmup" if part == 0 else "append_base")
        for _ in range(2):
            w = self.world.window(self.model.x, self.model.y, self.next_id - 1)
            run_window(self.table, to_expr(w), Tracer(False))

    def loop(self, spec: Spec, seconds: float, fixed_cycles: int | None) -> float:
        """Run cycles until ``seconds`` have passed and ``MIN_READS`` reads
        are done (or exactly ``fixed_cycles`` cycles); returns the timed
        wall seconds."""
        t0 = time.perf_counter()
        reads = cycle = 0
        while fixed_cycles is None or cycle < fixed_cycles:
            for kind in spec.cycle:
                if (
                    fixed_cycles is None
                    and reads >= MIN_READS
                    and time.perf_counter() - t0 >= seconds
                ):
                    return time.perf_counter() - t0
                self.do(kind)
                reads += kind == "read"
            cycle += 1
        return time.perf_counter() - t0

    def final_check(self) -> bool:
        """The whole table against the DuckDB replay of the op log and
        against the in-memory model the reads were checked with."""
        pdf = self.table.to_df().select("id", "v", "geom").toPandas()
        x, y = point_xy(pdf["geom"])
        order = np.argsort(pdf["id"].to_numpy(), kind="stable")
        got = (pdf["id"].to_numpy()[order], pdf["v"].to_numpy()[order], x[order], y[order])
        want = replay(self.oplog)
        m = self.model
        mo = np.argsort(m.ids, kind="stable")
        model = (m.ids[mo], m.v[mo], m.x[mo], m.y[mo])
        return all(
            len(a) == len(b) == len(c) and np.array_equal(a, b) and np.array_equal(b, c)
            for a, b, c in zip(got, want, model)
        )

    def stored_bytes(self) -> int:
        """Bytes reachable from the current snapshot: data and delete files,
        its manifests and the current metadata file."""
        t = self.table
        snap = t.current_snapshot()
        total = os.path.getsize(
            os.path.join(t.location, "metadata", f"v{t.meta.version}.metadata.json")
        )
        if snap is None:
            return total
        entries = M.read_snapshot_entries(t.location, snap)
        total += int(entries.file_size.sum())
        for rel in snap.manifest_list():
            total += os.path.getsize(os.path.join(t.location, rel))
        return total


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def percentile_tail(samples: list[float]) -> tuple[float, int] | None:
    """The highest whole percentile with at least ten samples beyond it, as
    (value, percentile); None below eleven samples."""
    n = len(samples)
    if n < 11:
        return None
    p = min(99, (100 * (n - 10)) // n)
    return float(np.percentile(samples, p)), p


def by_class(ops: list[Op]) -> dict[str, list[Op]]:
    out: dict[str, list[Op]] = defaultdict(list)
    for op in ops:
        if CLASS[op.kind]:
            out[CLASS[op.kind]].append(op)
    return out
